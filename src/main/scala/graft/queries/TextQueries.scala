package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.dedup.Dedup
import graft.functions.Stable
import graft.sequences.Sequences
import graft.sources.Tables
import graft.text.{Dsir, TextOps}

/** Text path + LLM-data-pipeline queries over `documents`/`embeddings`:
  * tokenizer+dictionary (fuel TextFile), n-grams, language ID, quality
  * scoring, fingerprinting, exact + MinHash/LSH dedup, SimHash, and
  * similarity search. All hashing is md5-derived so every signature is
  * recomputed bit-for-bit by the DuckDB oracle.
  */
object TextQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def docsWithTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("text"),
      TextOps.tokens(col("text")).as("ts"))

  /** The q131/q142 seeded link graph: doc i emits 1 + (i mod 3) links
    * with md5-derived uniform targets — the deterministic stand-in for
    * a crawl's link column. */
  private def syntheticLinkGraph(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val n = docs.agg(count(lit(1)).as("__nd"))
    docs.crossJoin(broadcast(n))
      .select(col("doc_id").as("src"),
        explode(sequence(lit(0L), col("doc_id") % 3)).as("j"), col("__nd"))
      .select(col("src"),
        pmod(Stable.seededHash(19, col("src"), col("j")), col("__nd")).as("dst"))
  }

  /** Shared oracle CTE for the q131/q142 link graph. */
  private lazy val DuckLinkGraph: String =
    s"""nn AS (SELECT count(*) AS n FROM documents),
       |ej AS (SELECT doc_id AS src,
       |        unnest(generate_series(0, doc_id % 3)) AS j FROM documents),
       |ed AS (SELECT src, ${Stable.duckSeededHash(19, "src", "j")} % nn.n AS dst
       |       FROM ej, nn)""".stripMargin

  /** Shared oracle CTE chain: five unrolled all-integer PageRank
    * rounds over [[DuckLinkGraph]], ending at `r5(node, rank)`. */
  private lazy val DuckPageRank5: String = {
    val scale = 1000000000000L
    val iterCtes = (1 to 5).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (SELECT e.dst AS node, sum(r.rank // d.deg) AS cin
         |        FROM ed e JOIN deg d USING (src) JOIN $prev r ON r.node = e.src
         |        GROUP BY 1),
         |r$i AS (SELECT n0.node,
         |          (${scale * 15} // (100 * nn.n))
         |          + (85 * coalesce(c.cin, 0)) // 100 AS rank
         |        FROM nodes n0 LEFT JOIN c$i c USING (node), nn)""".stripMargin
    }.mkString(",\n")
    s"""$DuckLinkGraph,
       |deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
       |r0 AS (SELECT node, $scale // nn.n AS rank FROM nodes, nn),
       |$iterCtes""".stripMargin
  }

  /** Shared oracle CTE: whitespace tokens, empties dropped. */
  private val DuckToks =
    "toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM documents)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // fuel TextFile: tokenize + top-50 dictionary lookup with BOS/EOS/UNK.
    "q21_tokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val dict = TextOps.buildDictionary(docs, "text", topK = 50)
      TextOps.tokenize(docs, "doc_id", "text", dict)
    }),

    // fuel NGrams: trigram + next-token target per document.
    "q22_ngrams" -> ((s, dir) => {
      Sequences.ngrams(docsWithTokens(s, dir), "doc_id", "ts", n = 3)
        .select(col("doc_id"), col("window_idx"),
          concat_ws(" ", col("ngram")).as("ngram"), col("target"))
    }),

    // Heuristic language ID: stopword-profile hit counts, deterministic
    // integer argmax (score DESC, lang ASC).
    "q23_langid" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
      d.select((col("doc_id") +: TextOps.langId(col("ts"))): _*)
    }),

    // Quality scoring + BPE-ish regex token count. Ratios are int/int
    // double divisions — IEEE-deterministic.
    "q24_quality" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
      d.select((col("doc_id") +:
        TextOps.qualityColumns(col("text"), col("ts")) :+
        TextOps.regexTokenCount(col("text")).as("n_regex_tokens")): _*)
    }),

    // Winnowing fingerprints: 3-gram rolling hashes, window-4 minima.
    "q25_fingerprint" -> ((s, dir) => {
      TextOps.fingerprint(docsWithTokens(s, dir), "ts", k = 3, w = 4)
        .select(col("doc_id"), size(col("fps")).cast("bigint").as("n_fp"),
          element_at(col("fps"), 1).as("min_fp"))
    }),

    // Exact dedup on a 40-char text prefix (hash-groupBy; min id kept).
    "q26_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), col("doc_id"), substring(col("text"), 1, 40))
    }),

    // MinHash signatures over HASHED 3-shingles via the CANONICAL chain
    // (explode + per-doc window combination + 8 family min-aggs) — this
    // query IS the reference-definition check the oracle is written
    // against; composed operators run the bit-equal pure-projection form
    // (Dedup.minhashFeatures, pinned in TextDedupSpec) instead.
    "q27_minhash" -> ((s, dir) => {
      val sh = Dedup.shingleHashes(docsWithTokens(s, dir), "doc_id", "ts", 3)
      Dedup.minhashFromBases(sh, "doc_id", "sh", 8)
        .select(col("doc_id"), posexplode(col("sig")).as(Seq("sig_idx", "minhash")))
        .select(col("doc_id"), col("sig_idx").cast("bigint").as("sig_idx"), col("minhash"))
    }),

    // Banded LSH near-dup detection end-to-end over hashed shingles:
    // signature -> 4 bands x 2 rows -> bucket join -> exact Jaccard verify
    // at 0.5 on the distinct shingle-hash sets. Never all-pairs: the only
    // joins are key-partitioned on band hash / candidate ids.
    //
    // Signatures and shingle sets are ONE pure projection
    // (Dedup.minhashFeatures — bit-equal to the canonical q27 chain,
    // TextDedupSpec): the token stream never shuffles; its three
    // consumers (signature mins + both verify-join sides) each recompute
    // the narrow projection, which measures faster than persisting (the
    // recompute-vs-persist heuristic in README "Recompute vs persist").
    "q28_lsh_dedup" -> ((s, dir) => {
      val feat = docsWithTokens(s, dir)
        .select(col("doc_id"), Dedup.minhashFeatures(col("ts")).as("mf"))
        .filter(col("mf").isNotNull)
      Dedup.minhashPairs(feat, "doc_id", "mf")
    }),

    // SimHash: 32-bit signature per doc from token-hash bit votes,
    // explode + partial-aggregable codegen'd sums.
    "q29_simhash" -> ((s, dir) => {
      Dedup.simhash(docsWithTokens(s, dir), "doc_id", "ts", 32)
    }),

    // SimHash banded near-dup end-to-end — the SimHash family's q28:
    // 60-bit signatures → 4 × 15-bit bands → bucket join → exact Hamming
    // verify at <= 3 (recall exactly 1 by pigeonhole; the require in
    // [[Dedup.simhashNearDup]] enforces it). 15-bit bands follow the
    // sizing rule on simhashNearDup: 2^15 buckets/band keeps occupancy —
    // and with it the quadratic per-bucket candidate count — O(1) as the
    // corpus grows (8-bit bands measured 2.9s at sf0.1 from ~20
    // docs/bucket; 15-bit runs in the q29 envelope). Random docs sit
    // ~Hamming 30 apart, so the query plants exact clones (doc_id < 10,
    // id + 1000000) that land at Hamming 0 — q50's planted-pair pattern;
    // organic exact-dup texts are kept too.
    "q52_simhash_near_dup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val clones = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val u = docs.unionByName(clones)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      // shuffle-free signature projection (bit-equal to q29's canonical
      // explode+agg chain; empty docs can't band, so the isNotNull filter
      // reproduces the canonical inner explode's drop)
      val sh = u.select(col("doc_id"), Dedup.simhashColumn(col("ts"), 60).as("simhash"))
        .filter(col("simhash").isNotNull)
      Dedup.simhashNearDup(sh, "doc_id", "simhash",
        bands = 4, bitsPerBand = 15, maxHamming = 3)
    }),

    // WIDE-signature simhash near-dup ([[Dedup.simhashNearDupWide]]):
    // q52's fixture on the 120-bit tier its sizing scaladoc names — two
    // independent 60-bit parts from both halves of each token's ONE md5,
    // 4 x 25-bit bands (vs the one-long tier's 15-bit cap), hamming over
    // all 120 bits. This is the q52-class scale path: at sf1 the 15-bit
    // bands yield 27.5M candidate pairs (hot low-entropy middle bits,
    // max occupancy 2847); these 25-bit bands yield 2.86M (9.6x less
    // quadratic work) at the same recall contract.
    "q222_simhash_wide" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val clones = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val u = docs.unionByName(clones)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      val sh = u.select(col("doc_id"),
          Dedup.simhashColumn(col("ts"), 60, part = 0).as("s0"),
          Dedup.simhashColumn(col("ts"), 60, part = 1).as("s1"))
        .filter(col("s0").isNotNull)
      Dedup.simhashNearDupWide(sh, "doc_id", "s0", "s1",
        bands = 4, bitsPerBand = 25, maxHamming = 3)
    }),

    // Exact ANN baseline: brute-force cosine top-5 for 10 query vectors.
    // Broadcast queries + bounded TopK aggregation — BroadcastNestedLoopJoin,
    // no CartesianProduct, no per-query global sort.
    "q30_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    }),

    // The ANN scale path: sign-LSH bucketed candidate join + exact rerank.
    // Approximate, yet ORACLE-EXACT: the hyperplanes are seed-derived
    // constants, so the oracle embeds them and rebuilds the same buckets
    // and rerank in SQL. Recall vs brute force is asserted in TextDedupSpec.
    "q31_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.lshTopK(emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        k = 5, seed = 42, tables = 6, planes = 6, dim = 64)
    }),

    // The IVF scale path: data-adapted centroid buckets + nProbe probing.
    // Approximate, yet ORACLE-EXACT: the centroid sample is seeded-hash-
    // selected, so the oracle re-derives the same centroids, assignments,
    // probes, and rerank in SQL. Recall + determinism in TextDedupSpec.
    "q39_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfTopK(emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        k = 5, seed = 42, nCentroids = 16, nProbe = 4)
    }),

    // Text normalization (lowercase / strip punctuation / collapse
    // whitespace) — the cleaning stage before tokenization; exact string
    // oracle.
    "q46_normalize" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.normalize(col("text")).as("norm"),
        length(TextOps.normalize(col("text"))).cast("bigint").as("n_norm_chars"))
    }),

    // Token packing for LLM pretraining: concatenate docs in id order, cut
    // every 512 tokens. Global offsets via the distributed prefix sum —
    // the oracle recomputes them with a cumulative window.
    "q43_pack_sequences" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
        .select(col("doc_id"), size(col("ts")).cast("bigint").as("n_tokens"))
      TextOps.packSequences(d, "doc_id", "n_tokens", 512)
        .select("doc_id", "n_tokens", "tok_offset", "first_seq", "last_seq")
    }),

    // fuel Window with an overlapping target at a negative offset
    // (sequences.py:4-88): source = 2 tokens, target = the 2 tokens one
    // position EARLIER. Exercises the i0/span clipping arithmetic that
    // q22's NGrams (offset 0, non-overlapping) does not.
    "q40_window_slide" -> ((s, dir) => {
      Sequences.windows(docsWithTokens(s, dir), "doc_id", "ts",
          offset = -1, sourceWindow = 2, targetWindow = 2, overlapping = true)
        .select(col("doc_id"), col("window_idx"),
          concat_ws(" ", col("source")).as("source"),
          concat_ws(" ", col("target")).as("target"))
    }),

    // Embedding-cosine near-dup pairs. The synthetic embeddings are pure
    // random (max pairwise cosine ~0.51), so the query plants determinstic
    // near-duplicates — clones of vec_id<20 with element 0 perturbed by 1%
    // (cos ≈ 1-5e-7) — via pure float arithmetic both engines reproduce
    // bit-for-bit. LSH buckets + exact verify, oracle-EXACT like q31; the
    // 0.99 threshold sits 0.48 above any non-planted pair, so membership
    // is robust to summation-order at the margin.
    "q50_near_dup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val clones = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        concat(array((col("embedding")(0) * lit(1.01)).cast("float")),
               slice(col("embedding"), 2, 63)).as("embedding"))
      // planes=12 (4096 buckets/table): bucket occupancy, and with it the
      // per-bucket quadratic candidate count, stays O(1) — see the sizing
      // note on nearDupPairs.
      Ann.nearDupPairs(emb.unionByName(clones), "vec_id", "embedding",
          threshold = 0.99, planes = 12)
        .select(col("id1"), col("id2"))
    }),

    // PII redaction: the synthetic corpus carries no organic PII, so the
    // query plants a deterministic email + long numeric ref per doc (pure
    // string arithmetic both engines build identically), then redacts.
    // Exact-string oracle like q46; the patterns are RE2-compatible by
    // the redact contract, so DuckDB runs them verbatim.
    "q58_redact" -> ((s, dir) => {
      val aug = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@mail.example.com ref "),
        (col("doc_id") * 1000003L + 777777L).cast("string"))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.redact(aug).as("clean"),
        length(TextOps.redact(aug)).cast("bigint").as("n_chars"))
    }),

    // Benchmark decontamination: every 41st doc plays the eval set; flag
    // corpus docs sharing >= 2 distinct 3-shingles with it. Each "eval"
    // doc flags itself (its full distinct-shingle count — exactly the
    // leakage the stage exists to find) plus any organic vocabulary
    // overlap, all reproduced by the oracle.
    "q57_decontaminate" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
      Dedup.contaminated(d, "doc_id", "ts",
        d.filter(col("doc_id") % 41 === 0), "doc_id", "ts",
        k = 3, minOverlap = 2)
    }),

    // Semantic decontamination ([[graft.ann.Ann.contaminatedSemantic]]):
    // the embedding twin of q57, for contamination n-grams miss. The
    // benchmark is every 37th embedding; q50's perturbed copies of the
    // bench vectors (+1M ids) are planted into the corpus and must flag
    // at cosine >= 9/10 alongside the bench rows' self-hits. Quantized
    // vectors + pure-integer threshold compare → hash-exact.
    "q88_decontaminate_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val plants = emb.filter(col("vec_id") % 37 === 0).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        concat(array((col("embedding")(0) * lit(1.01)).cast("float")),
               slice(col("embedding"), 2, 63)).as("embedding"))
      val qz = Ann.quantize(emb.unionByName(plants), "vec_id", "embedding")
      Ann.contaminatedSemantic(qz, "vec_id", "qvec",
        qz.filter(col("vec_id") % 37 === 0 && col("vec_id") < 1000000L),
        "vec_id", "qvec", tauNum = 9, tauDen = 10)
    }),

    // Deterministic k-means refinement ([[graft.ann.Ann.kmeansRefine]]):
    // one Lloyd step over the int8-quantized embeddings from q39/q55's
    // seeded 16-centroid sample, then the refined quantizer's assignment
    // statistics — (cid, pos, n, s) per cluster component, all integers.
    // The refinement is bit-exact (integer sufficient statistics, one
    // division driver-side), so the oracle replays both assignment
    // rounds and matches every count and component sum.
    "q89_kmeans_refine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val qz = Ann.quantize(emb, "vec_id", "embedding")
      val init = Ann.sampleCentroids(emb, "vec_id", "embedding", 42, 16)
      val refined = Ann.kmeansRefine(qz, "vec_id", "qvec", init, iters = 1)
      Ann.lloydStats(qz, "vec_id", "qvec", refined)
        .select(col("cid").cast("bigint").as("cid"),
          col("pos").cast("bigint").as("pos"), col("n"), col("s"))
    }),

    // Bloom-filter decontamination
    // ([[graft.dedup.Dedup.contaminatedBloom]]): q57's benchmark
    // compressed to a 2^17-bit Bloom set (4 family hashes), so the
    // corpus-side check is a pure projection — the plan has NO join.
    // False positives are deterministic (the bitset is a pure function
    // of the benchmark), so the oracle reproduces the flag set exactly,
    // false positives included.
    "q87_decontaminate_bloom" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
      val bits = Dedup.bloomBits(d.filter(col("doc_id") % 41 === 0), "ts",
        k = 3, mBits = 1 << 17, numHashes = 4)
      Dedup.contaminatedBloom(d, "doc_id", "ts", bits, numHashes = 4,
        k = 3, minOverlap = 2)
    }),

    // The packed training sequences THEMSELVES (q43 addresses them; this
    // materializes them): q21's tokenized rows placed at global positions
    // via the distributed prefix sum, cut every 512 tokens, each
    // sequence's ordered token array assembled by a key-partitioned
    // groupBy. Per-sequence summary facts (length, boundary tokens, token
    // sum) make the arrays fully DuckDB-checkable.
    "q56_pack_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val dict = TextOps.buildDictionary(docs, "text", topK = 50)
      val toks = TextOps.tokenize(docs, "doc_id", "text", dict)
      TextOps.packTokens(toks, "doc_id", "pos", "token_id", 512)
        .select(col("seq_id"), size(col("tokens")).cast("bigint").as("n_toks"),
          element_at(col("tokens"), 1).as("first_tok"),
          element_at(col("tokens"), -1).as("last_tok"),
          aggregate(col("tokens"), lit(0L), _ + _).as("tok_sum"))
    }),

    // SemDeDup-style semantic dedup pairs: the same planted clones as
    // q50, but found by centroid clustering (q39's coarse quantizer) +
    // within-cluster cosine — the published embedding-space curation
    // stage. Emitting cid alongside the pair checks the cluster
    // ASSIGNMENT too, not just the pair set; the oracle rebuilds the
    // centroid sample, assignment, and within-cluster pairs in SQL, so
    // hash-exact like q39/q50.
    "q55_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val clones = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        concat(array((col("embedding")(0) * lit(1.01)).cast("float")),
               slice(col("embedding"), 2, 63)).as("embedding"))
      Ann.semanticDedupPairs(emb.unionByName(clones), "vec_id", "embedding",
          threshold = 0.99, seed = 42, nCentroids = 16)
        .select("cid", "id1", "id2")
    }),

    // The flagship LLM-corpus curation pipeline ([[graft.text.Curation]]):
    // language gate → quality gate → exact dedup → MinHash/LSH near-dup
    // removal → distributed token packing, hash-exact from raw corpus to
    // packed offsets (the oracle rebuilds the whole chain in SQL). The
    // multi-consumer gated frame is recomputed per consumer — measured
    // faster than persisting at sf0.1 and pinned by PlanSpec's
    // corpus-scan count; see README "Recompute vs persist" for when to
    // flip it.
    "q51_curation" -> ((s, dir) =>
      graft.text.Curation.curate(docsWithTokens(s, dir))),

    // The COMPLETE curation chain ([[graft.text.Curation.curateFull]]):
    // PII redaction → normalization → language gate → quality gate →
    // exact dedup → MinHash/LSH near-dup removal → benchmark
    // decontamination → token packing, one composed pipeline, hash-exact
    // end-to-end. q58-style planted PII makes the scrub stage
    // load-bearing (unredacted emails/refs would change every downstream
    // token count and shingle hash); the doc_id % 41 slice plays the
    // eval set (q57's pattern — contaminated docs, eval docs included,
    // never pack). The PII plants as TWO ISOLATED tokens (`<email>`,
    // `<num>` — scrubbed: "email num") so no 3-shingle lies fully inside
    // the redaction boilerplate: a shared-template tail would otherwise
    // hand every doc the same interior shingles and decontamination
    // would (correctly!) flag the whole corpus against any eval doc
    // carrying the same template — the redaction-token-overlap caveat,
    // documented on [[graft.text.Curation.decontaminate]].
    "q59_full_curation" -> ((s, dir) => {
      val raw = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" user"), col("doc_id").cast("string"),
          lit("@mail.example.com "),
          (col("doc_id") * 1000003L + 777777L).cast("string")).as("text"))
      graft.text.Curation.curateFull(raw, raw.filter(col("doc_id") % 41 === 0))
    }),

    // Incremental admission ([[graft.text.Curation.admit]]): dedup a NEW
    // batch against the retained signature store of an already-curated
    // corpus — the production shape where data arrives in shards and the
    // frozen corpus is never re-read. Even doc_ids play the existing
    // corpus (signatureStore only — text discarded); the batch is the odd
    // docs plus four planted families exercising each drop stage:
    // +1M = verbatim copies of even docs (exact-cross), +2M = even docs
    // with a mutated PREFIX (new exact key, near-identical shingles →
    // near-cross via signature-estimated Jaccard), +3M = copies of odd
    // batch docs (exact-within, min id survives), +4M = prefix-mutated
    // odd docs (near-within, greedy higher-id drop against their
    // originals in the same batch). Output: admitted doc_ids.
    "q60_incremental_admit" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      def wTs(df: DataFrame): DataFrame =
        df.withColumn("ts", TextOps.tokens(col("text")))
      val even = docs.filter(col("doc_id") % 2 === 0)
      val odd = docs.filter(col("doc_id") % 2 === 1)
      // In production the store is a pruned parquet read of the retained
      // artifact (cheap to rescan); here it is COMPUTED in-query, so cache
      // it — admit consumes it twice (exact anti-join, banding).
      val store = graft.transform.Cache()(
        Dedup.signatureStore(wTs(even), "doc_id", "text", "ts"))
      val fresh = wTs(odd
        .unionByName(even.filter(col("doc_id") < 20)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(even.filter(col("doc_id") >= 20 && col("doc_id") < 40)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(lit("zzz "), col("text")).as("text")))
        .unionByName(odd.filter(col("doc_id") < 10)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
        .unionByName(odd.filter(col("doc_id") >= 10 && col("doc_id") < 30)
          .select((col("doc_id") + 4000000L).as("doc_id"),
            concat(lit("qq "), col("text")).as("text"))))
      graft.text.Curation.admit(fresh, store).select("doc_id")
    }),

    // Store EVOLUTION across two admission rounds ([[graft.text
    // .Curation.admit]] chained — the exact state loop [[graft.streaming
    // .Streaming.admitStream]]'s foreachBatch runs, in batch form):
    // batch 1 admits against an EMPTY store (within-batch dedup only,
    // +1M verbatim plants collapse to their originals), its survivors'
    // signatures BECOME the store, and batch 2 admits against that —
    // +2M plants (copies of batch-1 docs) drop ONLY because batch 1's
    // admissions entered the store, +3M plants (prefix-mutated batch-1
    // docs) drop via the near tier against the evolved store. Output:
    // (batch, doc_id) of every admitted doc — the oracle replays both
    // rounds, so the store hand-off itself is hash-pinned.
    "q190_admit_evolution" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      def wTs(df: DataFrame): DataFrame =
        df.withColumn("ts", TextOps.tokens(col("text")))
      val b1 = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(docs.filter(col("doc_id") % 3 === 0 && col("doc_id") < 30)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val b2 = docs.filter(col("doc_id") % 3 === 1)
        .unionByName(docs.filter(col("doc_id") % 3 === 0 && col("doc_id") < 60)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        .unionByName(docs
          .filter(col("doc_id") % 3 === 0 && col("doc_id") >= 60 &&
            col("doc_id") < 90)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(lit("qq "), col("text")).as("text")))
      val store0 = Dedup.signatureStore(wTs(docs.limit(0)), "doc_id", "text", "ts")
      val a1 = graft.transform.Cache()(graft.text.Curation.admit(wTs(b1), store0))
      val store1 = graft.transform.Cache()(
        Dedup.signatureStore(a1, "doc_id", "text", "ts"))
      val a2 = graft.text.Curation.admit(wTs(b2), store1)
      a1.select(lit(1L).as("batch"), col("doc_id"))
        .unionByName(a2.select(lit(2L).as("batch"), col("doc_id")))
    }),

    // Packing-efficiency card ([[TextOps.packEfficiency]]): sequence
    // counts and padding waste for three candidate context lengths —
    // the table read BEFORE budgeting a q43-scale pack. Closed-form in
    // one corpus agg (pads land only in the final sequence under
    // cross-doc concatenation), all integer ppm arithmetic.
    "q191_pack_efficiency" -> ((s, dir) =>
      TextOps.packEfficiency(
        docsWithTokens(s, dir).select(col("doc_id"),
          size(col("ts")).cast("bigint").as("n_tokens")),
        "n_tokens", Seq(128, 256, 512))),

    // The curation-run report ([[graft.text.Curation.report]]): per-stage
    // survivor doc and token counts over q59's exact chain (same planted
    // PII, same doc_id % 41 eval slice) — the five-row frame an operator
    // reads after every production run. Checks the STAGING itself: each
    // count pins one stage boundary, so a gate mis-wired before dedup or
    // a decontamination running on the wrong frame shows up as a count
    // mismatch even when the final survivor set happens to agree.
    "q61_curation_report" -> ((s, dir) => {
      val raw = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" user"), col("doc_id").cast("string"),
          lit("@mail.example.com "),
          (col("doc_id") * 1000003L + 777777L).cast("string")).as("text"))
      graft.text.Curation.report(raw, raw.filter(col("doc_id") % 41 === 0))
    }),

    // Int8-quantized ANN ([[Ann.quantize]] + [[Ann.quantizedTopK]]):
    // per-vector affine quantization (scale = maxAbs/127, round-half-up
    // in exact double math), then exact top-5 cosine over the BYTE
    // arrays. Per-vector scales cancel in cosine and integer dot
    // products are exact in double arithmetic, so the approximate
    // (quantized) path is still ORACLE-EXACT — the 4× vector-byte cut
    // every 100 TB ANN shuffle wants, with its accuracy measured against
    // the float path in TextDedupSpec.
    "q62_ann_quantized" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val qz = Ann.quantize(emb, "vec_id", "embedding")
      Ann.quantizedTopK(qz, qz.filter(col("vec_id") < 50), "vec_id", "qvec", k = 5)
    }),

    // CCNet-style line dedup ([[TextOps.dedupLines]]): every doc gets two
    // planted boilerplate lines (a shared footer + a parity banner);
    // corpus-wide line counts scrub exactly those, the organic text line
    // survives (docs sharing their full text lose it too — count > 1 —
    // which is the operator working as specified), and docs reassemble
    // in original line order. Hash-exact on (doc_id, clean_text).
    "q66_line_dedup" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit("\nall rights reserved"),
          when(col("doc_id") % 2 === 0, lit("\nsubscribe today"))
            .otherwise(lit("\nfollow us"))).as("text"))
      TextOps.dedupLines(planted, "doc_id", "text")
    }),

    // Repetition quality signals ([[TextOps.repetitionColumns]]): the
    // published duplicate-n-gram corpus filters — per doc, the most
    // frequent 2-gram's share of all 2-gram occurrences and the share
    // of 3-gram occurrences that repeat within the doc. Pure explode +
    // two keyed aggs; int/int double fractions, hash-exact.
    "q65_repetition" -> ((s, dir) =>
      TextOps.repetitionColumns(docsWithTokens(s, dir), "doc_id", "ts")),

    // Deterministic domain mixing ([[graft.text.Curation.mix]]): two
    // "domains" carved from the corpus (doc_id % 3) combined at a 30/70
    // token-share target under a 30k-token budget — acceptance is the
    // q38 integer-threshold Bernoulli per (seed, source, doc), and the
    // per-source rates derive from token totals the oracle recomputes
    // from its own sums, so the whole mixture is hash-exact.
    "q64_mix_domains" -> ((s, dir) => {
      val n = docsWithTokens(s, dir)
        .select(col("doc_id"), size(col("ts")).cast("bigint").as("n_tokens"))
      graft.text.Curation.mix(
        Seq(("web", n.filter(col("doc_id") % 3 === 0), 0.3),
            ("books", n.filter(col("doc_id") % 3 =!= 0), 0.7)),
        "doc_id", "n_tokens", budgetTokens = 30000, seed = 13)
        .select("source", "doc_id", "n_tokens")
    }),

    // Attention-mask metadata for packed sequences
    // ([[TextOps.packDocSpans]]): q43's packing, flattened to one row per
    // (sequence, document) overlap with local [span_start, span_end)
    // positions — what a trainer needs to block cross-document attention
    // in packed samples. PropertiesSpec asserts the spans tile every
    // sequence exactly.
    "q63_pack_doc_spans" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
        .select(col("doc_id"), size(col("ts")).cast("bigint").as("n_tokens"))
      TextOps.packDocSpans(d, "doc_id", "n_tokens", 512)
    }),

    // The PUBLISHED pipeline order, composed end-to-end
    // ([[graft.text.Curation.curatePublished]]): CCNet's line-level dedup
    // runs BEFORE any doc-level stage, and Gopher's duplicate-n-gram
    // rules run inside the quality gate. Three plants make every new
    // stage load-bearing: q66's boilerplate footer lines (scrubbed by
    // the line stage), repetition spam on doc_id % 13 (" buy now"
    // repeated ~length/20 times — top2 >= 0.21 / dup3 >= 0.41 vs organic
    // maxima 0.143 / 0.125, so the 0.15 thresholds drop exactly the
    // planted docs), and q59's PII tail (the scrub stage). The doc_id %
    // 41 slice plays the eval set, scrubbed WITHOUT line dedup (an eval
    // set is external to the corpus's line statistics).
    "q67_published_curation" -> ((s, dir) => {
      val raw = t(s, dir, "documents").select(col("doc_id"), plantedPublished)
      graft.text.Curation.curatePublished(raw, raw.filter(col("doc_id") % 41 === 0))
    }),

    // Per-stage counts for the published order
    // ([[graft.text.Curation.reportPublished]]): q61's operator report
    // with rows for the two NEW boundaries — the line scrub and the
    // repetition gate — so a repetition threshold gone wrong or a line
    // scrub silently no-oping (run after normalization, no newlines
    // left) shows up as a count mismatch at its own stage.
    "q68_published_report" -> ((s, dir) => {
      val raw = t(s, dir, "documents").select(col("doc_id"), plantedPublished)
      graft.text.Curation.reportPublished(raw, raw.filter(col("doc_id") % 41 === 0))
    }),

    // The mixture ARTIFACT ([[graft.text.Curation.materializeMixture]]):
    // q64's two-domain mix selected, tokenized against one
    // mixture-trained dictionary, packed, split-assigned and WRITTEN —
    // then reloaded from disk and summarized per sequence (split, token
    // count, boundary tokens, token sum, span count). The oracle
    // rebuilds the acceptance + dictionary + packing + split assignment
    // from the raw table, so the round trip through the written
    // artifact is what the hash compare certifies (the loop-closure
    // property, oracled).
    "q69_mixture_artifact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_q69_artifact"
      graft.text.Curation.materializeMixture(
        Seq(("web", docs.filter(col("doc_id") % 3 === 0), 0.3),
            ("books", docs.filter(col("doc_id") % 3 =!= 0), 0.7)),
        path, budgetTokens = 30000, mixSeed = 13)
      s.read.parquet(path).select(col("split"), col("seq_id"),
        size(col("tokens")).cast("bigint").as("n_toks"),
        element_at(col("tokens"), 1).as("first_tok"),
        element_at(col("tokens"), -1).as("last_tok"),
        aggregate(col("tokens"), lit(0L), _ + _).as("tok_sum"),
        size(col("spans")).cast("bigint").as("n_docs"))
    }),

    // The RefinedWeb order end-to-end
    // ([[graft.text.Curation.curateRefined]]): q67's chain finished with
    // EXACT SUBSTRING dedup — fuzzy doc dedup first, then duplicated
    // 20-token spans cut corpus-wide, pack sizes from the SURVIVING
    // counts. The plant: a shared 25-token passage on doc_id % 17 == 1
    // (outside the eval slice) survives every earlier stage by
    // construction (adds ~23 shared shingles — Jaccard stays under the
    // 0.5 verify; no internal repetition; inline, so line dedup can't
    // see it) and ONLY the span stage removes it: every planted doc
    // except the corpus-wide first loses exactly the quote's tokens.
    "q73_refined_curation" -> ((s, dir) => {
      val raw = t(s, dir, "documents").select(col("doc_id"), plantedRefined)
      graft.text.Curation.curateRefined(raw, raw.filter(col("doc_id") % 41 === 0))
    }),

    // Near-dup CLUSTERS ([[graft.dedup.Components]]): the verified LSH
    // pair graph's transitive closure — what published pipelines keep
    // one doc per, and what pairwise drop-the-larger cannot see. The
    // plant: progressive-drift chains — per base doc, four 40-token
    // windows at stride 8, so adjacent windows share 32 tokens (shingle
    // Jaccard ≈ 0.65, above the 0.5 verify) while windows two apart
    // share 24 (≈ 0.43, below it): the family's similarity graph is a
    // PATH, and only the closure reassembles it. Oracle closes the same
    // graph with a recursive CTE.
    "q74_cluster_dedup" -> ((s, dir) => {
      val base = docsWithTokens(s, dir).select(col("doc_id"), col("ts"))
      val chains = base.filter(col("doc_id") % 29 === 3 && size(col("ts")) >= 64)
      val planted = (0 until 4).map { i =>
        chains.select((col("doc_id") * 10 + lit(1000000 + i)).as("doc_id"),
          slice(col("ts"), 1 + 8 * i, 40).as("ts"))
      }.reduce(_ union _)
      // The md5-per-gram feature frame feeds three consumers (sig +
      // both verify sides) — persist it so the corpus hashes once
      // (nearDeduped's measured persist rationale).
      val feat = graft.transform.Cache()(base.union(planted)
        .select(col("doc_id"), Dedup.minhashFeatures(col("ts")).as("mf"))
        .filter(col("mf").isNotNull))
      val pairs = Dedup.minhashPairs(feat, "doc_id", "mf").select("id1", "id2")
      graft.dedup.Components.clusterSizes(pairs)
    }),

    // CCNet-style LM quality gate ([[graft.text.Perplexity]]): bigram
    // model trained on the doc_id % 5 < 2 ORGANIC slice, every doc
    // scored in integer bit costs (ilog2 via binary-string length —
    // bit-identical in DuckDB), gated at mean 8 bits/bigram by
    // cross-multiplied integer compare. The plant: OUT-OF-VOCABULARY
    // token streams on doc_id % 23 == 7 (every token suffixed — the
    // other-language/gibberish class the CCNet LM tier exists to drop):
    // every bigram context is unseen, so each pair costs the full
    // `unseenBits` 20 and the doc lands far above the gate, while
    // organic docs sit near 5 bits/bigram. (The corpus vocabulary is 31
    // i.i.d. words, so ORDER-based plants — e.g. reversal — score the
    // same as organic text here: every pair is a seen bigram.)
    "q75_perplexity_gate" -> ((s, dir) => {
      val docs = docsWithTokens(s, dir).select(col("doc_id"), col("ts"))
      val planted = docs.filter(col("doc_id") % 23 === 7)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          transform(col("ts"), t => concat(t, lit("~"))).as("ts"))
      val model = graft.text.Perplexity.bigramCounts(docs.filter(col("doc_id") % 5 < 2))
      graft.text.Perplexity.gate(docs.union(planted), model, maxBitsPerBigram = 8)
    }),

    // CCNet's head/middle/tail buckets ([[graft.text.Perplexity
    // .buckets]]): q75's bigram LM scores split into per-LANGUAGE
    // equal-count terciles of the integer deci-bit mean (`(10 *
    // total_bits) div n_bigrams`). The cutoffs come from a bounded
    // per-language score histogram — CCNet's own shape — so no window
    // ever sorts the corpus; `lang` rides through [[Perplexity.score]]
    // and the bucket assignment is one broadcast join. Bucket 1 = most
    // fluent (head), 3 = tail, 0 = unscored (< 2 tokens).
    "q76_perplexity_buckets" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("ts"))
      val model = graft.text.Perplexity.bigramCounts(
        d.filter(col("doc_id") % 5 < 2).select(col("doc_id"), col("ts")))
      graft.text.Perplexity.buckets(
        graft.text.Perplexity.score(d, model), groupCol = "lang")
    }),

    // Exact n-gram Jaccard similarity join ([[graft.dedup.Dedup
    // .jaccardJoin]]): AllPairs prefix filtering at t = 1/2 over the
    // same 3-shingle hash sets q28's LSH tier bands — the
    // zero-recall-loss tier of the near-dup family. The oracle is the
    // plain inverted-index all-pairs build with no prefix pruning:
    // prefix filtering is provably lossless, so both engines must
    // produce the IDENTICAL pair set — the pruning itself is what the
    // hash equality checks.
    "q77_jaccard_join" -> ((s, dir) =>
      Dedup.jaccardJoin(docsWithTokens(s, dir), "doc_id", "ts",
        k = 3, tNum = 1, tDen = 2)),

    // IVF index as a persisted artifact ([[graft.ann.Ann.writeIvfIndex]]):
    // train the coarse quantizer once, WRITE the inverted lists bucketed
    // by centroid id + the centroid table, then answer a FRESH query
    // batch purely from the reloaded artifact (probe projection + in-list
    // rerank — no re-clustering, no corpus shuffle; the lists side reads
    // its buckets in place). The oracle rebuilds the identical index
    // from the raw embeddings in SQL — loop closure, oracled (the q69
    // pattern for ANN).
    "q78_ann_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_q78_index"
      Ann.writeIvfIndex(emb, "graft_q78_index", path, "vec_id", "embedding",
        seed = 42, nCentroids = 16)
      val (index, cents) = Ann.readIvfIndex(s, "graft_q78_index", path)
      Ann.ivfProbe(index, cents, emb.filter(col("vec_id") % 20 === 3),
        "vec_id", "embedding", k = 5, nProbe = 4)
    }),

    // The persisted IVF index with a REFINED quantizer
    // ([[graft.ann.Ann.writeIvfIndex]] refineIters=1): q89's Lloyd step
    // composed into q78's train-once artifact — the sampled centroids
    // refine over the int8-quantized corpus before assignment, the
    // inverted lists build against the refined quantizer, and a fresh
    // batch probes the reloaded artifact. The whole chain is bit-exact,
    // so the oracle rebuilds refinement AND probe from raw.
    "q90_ann_index_refined" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_q90_index"
      Ann.writeIvfIndex(emb, "graft_q90_index", path, "vec_id", "embedding",
        seed = 42, nCentroids = 16, refineIters = 1)
      val (index, cents) = Ann.readIvfIndex(s, "graft_q90_index", path)
      Ann.ivfProbe(index, cents, emb.filter(col("vec_id") % 20 === 7),
        "vec_id", "embedding", k = 5, nProbe = 4)
    }),

    // TF-IDF top terms ([[graft.text.TextOps.tfidfTopTerms]]): the top-3
    // keywords per document under integer-bit idf quantization (the
    // Perplexity/DSIR rule — libm log never enters), ties to the
    // lexicographically smaller term.
    "q92_tfidf_terms" -> ((s, dir) =>
      TextOps.tfidfTopTerms(docsWithTokens(s, dir), "doc_id", "ts", k = 3)),

    // kNN label propagation ([[graft.ann.Ann.knnPropagate]]): the
    // embeddings table's every-10th row is the labeled seed set; each
    // remaining row takes the majority label among its 5 nearest seeds
    // by cosine, ties to the smaller label. The float cosine is the
    // q30-proven bit-stable formula, so the whole transfer is
    // hash-exact.
    "q91_knn_propagate" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding", "label")
      Ann.knnPropagate(
        emb.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
        emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
        "label", k = 5)
    }),

    // Bucket-occupancy card ([[Ann.bucketOccupancyCard]]): the
    // measurement behind the planesForOccupancy tuning rule — the
    // occupancy histogram a candidate banding would see on this corpus,
    // with each class's share of the quadratic candidate-pair work.
    // Run before any banded join at a new scale decade.
    "q219_occupancy_card" -> ((s, dir) =>
      Ann.bucketOccupancyCard(t(s, dir, "embeddings"), "embedding",
        seed = 42, tables = 4, planes = 8, dim = 64)),

    // AUTO-TUNED banding ([[Ann.lshTopK]] with planes = 0): the
    // one-plane-per-corpus-doubling rule enforced as behavior — the
    // plane count is derived from the corpus cardinality at call time
    // ([[Ann.planesForOccupancy]], integer-exact), so a decade of
    // corpus growth re-tunes the banding instead of silently drifting
    // the typical bucket quadratic. The oracle re-derives the SAME
    // plane count from count(*) in SQL and selects that prefix of the
    // inlined hyperplane literals — hash-exact at every scale factor
    // even though the banding itself differs per scale.
    "q220_auto_banded_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.lshTopK(emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        k = 5, seed = 42, tables = 2, planes = 0, dim = 64)
    }),

    // Coverage card for the banded propagators
    // ([[Ann.propagateCoverageCard]]): q218 drops corpus rows sharing no
    // band bucket with any seed — this measures how many, per cumulative
    // table count, with q218's EXACT banding (seed 42, 4 tables x 8
    // planes, same corpus/seed split). The marginal row-to-row gain is
    // what each added table buys in recall.
    "q221_propagate_coverage" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      Ann.propagateCoverageCard(
        emb.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
        emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
        seed = 42, tables = 4, planes = 8, dim = 64)
    }),

    // Banded kNN label propagation ([[Ann.knnPropagateLsh]]): q91's
    // transfer when the labeled set is too large to broadcast — sign-LSH
    // band-bucket candidates between corpus and seeds (key-partitioned,
    // occupancy-guarded), then the identical TopK(sim, label) vote.
    // Rows with no candidate seed are absent (recall-bounded, no guess).
    "q218_knn_propagate_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding", "label")
      Ann.knnPropagateLsh(
        emb.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
        emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
        "label", k = 5, seed = 42, tables = 4, planes = 8, dim = 64)
    }),

    // The CCNet order end-to-end ([[graft.text.Curation.curateCCNet]]):
    // line dedup → language ID (every language kept, tagged) → the
    // bigram-LM perplexity tier trained on the separately-scrubbed
    // doc_id % 7 < 2 reference slice, head/middle kept per predicted
    // language, tail dropped → token packing. q67's plants exercise the
    // line scrub; the LM cutoffs come from the per-language histogram —
    // q75/q76's machinery composed into a lifecycle chain, the same
    // move that made q59/q67 the flagships.
    "q79_ccnet_curation" -> ((s, dir) => {
      val raw = t(s, dir, "documents").select(col("doc_id"), plantedPublished)
      val ref = t(s, dir, "documents").filter(col("doc_id") % 7 < 2)
        .select("doc_id", "text")
      graft.text.Curation.curateCCNet(raw, ref)
    }),

    // The CCNet corpus report ([[graft.text.Curation.reportCCNet]]):
    // the paper's per-language table — doc/token counts per (predicted
    // language, perplexity bucket) over q79's shared interior. The
    // operator's read: bucket sizes per language size the
    // head/middle/tail trade; a mis-normalized reference LM shows up as
    // one giant bucket-3 row.
    "q80_ccnet_report" -> ((s, dir) => {
      val raw = t(s, dir, "documents").select(col("doc_id"), plantedPublished)
      val ref = t(s, dir, "documents").filter(col("doc_id") % 7 < 2)
        .select("doc_id", "text")
      graft.text.Curation.reportCCNet(raw, ref)
    }),

    // Temperature-balanced mixing ([[graft.text.Curation
    // .mixTemperature]]): q64's acceptance machinery with shares DERIVED
    // from per-source token totals at alpha = 0.5 (share ∝ sqrt(tokens),
    // renormalized — the multilingual sampling rule that upweights small
    // sources). Three deliberately unequal sources (4/7, 2/7, 1/7 of the
    // corpus); sqrt is correctly rounded in IEEE, so the oracle
    // re-derives the identical shares, rates, and integer thresholds.
    "q81_mix_temperature" -> ((s, dir) => {
      val n = docsWithTokens(s, dir)
        .select(col("doc_id"), size(col("ts")).cast("bigint").as("n_tokens"))
      graft.text.Curation.mixTemperature(
        Seq(("web", n.filter(col("doc_id") % 7 < 4)),
            ("books", n.filter(col("doc_id") % 7 === 4 || col("doc_id") % 7 === 5)),
            ("code", n.filter(col("doc_id") % 7 === 6))),
        "doc_id", "n_tokens", budgetTokens = 20000, alpha = 0.5, seed = 13)
        .select("source", "doc_id", "n_tokens")
    }),

    // Incremental admission at EMBEDDING parity
    // ([[graft.text.Curation.admitEmbedding]]): q60's staged-plant
    // pattern over the embeddings table, cosine-flavored. Store = the
    // even-id slice's [[graft.ann.Ann.embeddingStore]]; batch = the odd
    // organic slice plus one plant per drop stage: +1M copies of batch
    // vectors (exact-WITHIN drops the copy, min id survives), +2M+1
    // copies of store vectors (exact-CROSS — identical qvec, identical
    // xkey), and +3M q50-style perturbed store vectors (first component
    // x1.01 — cosine ≈ 1 with the store original; caught by the NEAR
    // tier, or by exact-cross on rows where the perturbation rounds
    // back to the same int8 — dropped either way, and the oracle
    // recomputes the identical stage outcomes).
    "q82_embedding_admit" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val store = emb.filter(col("vec_id") % 2 === 0)
      val organic = emb.filter(col("vec_id") % 2 === 1)
      val dupWithin = organic.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val storeCopies = store.filter(col("vec_id") < 40)
        .select((col("vec_id") + 2000001L).as("vec_id"), col("embedding"))
      val nearStore = store.filter(col("vec_id") >= 40 && col("vec_id") < 80)
        .select((col("vec_id") + 3000000L).as("vec_id"),
          concat(array((col("embedding")(0) * lit(1.01)).cast("float")),
                 slice(col("embedding"), 2, 63)).as("embedding"))
      val batch = organic.unionByName(dupWithin).unionByName(storeCopies)
        .unionByName(nearStore)
      graft.text.Curation.admitEmbedding(batch,
          graft.ann.Ann.embeddingStore(store, "vec_id", "embedding"),
          threshold = 0.99)
        .select("vec_id")
    }),

    // Perplexity-curriculum packing ([[graft.text.TextOps
    // .packSequencesOrdered]]): the published curriculum-learning data
    // order — concatenate the most fluent text FIRST (ascending
    // quantized bits-per-bigram from q75's LM, doc_id tie-break; the
    // handful of sub-2-token docs score -1 and lead vacuously), cut
    // every 512 tokens. Same distributed prefix sum as q43 — ordering
    // changes the range-sort key, not the shape — so the oracle is
    // q43's running-sum window over the curriculum order.
    "q83_curriculum_pack" -> ((s, dir) => {
      val docs = docsWithTokens(s, dir).select(col("doc_id"), col("ts"))
      val model = graft.text.Perplexity.bigramCounts(docs.filter(col("doc_id") % 5 < 2))
      val scored = graft.text.Perplexity.score(
        docs.withColumn("n_tokens", size(col("ts")).cast("bigint")), model)
      val q = scored.withColumn("score_q",
        when(col("n_bigrams") > 0, expr("(total_bits * 10L) div n_bigrams"))
          .otherwise(lit(-1L)))
      TextOps.packSequencesOrdered(q.select("doc_id", "n_tokens", "score_q"),
          "doc_id", "n_tokens", seqLen = 512, orderBy = Seq(col("score_q")))
        .select("doc_id", "score_q", "n_tokens", "tok_offset",
          "first_seq", "last_seq")
    }),

    // DSIR data selection ([[graft.text.Dsir]]): pick the 150 raw-corpus
    // docs whose hashed unigram+bigram profile is most like the src3
    // target slice — quantized integer log importance weights (the
    // Gumbel resample is replaced by a seeded-hash tie-break; IEEE log
    // would break cross-engine exactness, rationale in the scaladoc).
    "q84_dsir_select" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextOps.tokens(col("text")).as("ts"))
      Dsir.select(
        d.filter(col("source") =!= "src3").select("doc_id", "ts"),
        d.filter(col("source") === "src3").select("doc_id", "ts"),
        k = 150, buckets = 4096, seed = 7L)
    }),

    // Sharded near-dup ([[graft.dedup.Dedup.lshCandidatesGrouped]]):
    // FineWeb's per-snapshot dedup discipline — candidate pairs form
    // only WITHIN a source shard. Two plant families prove the
    // semantics: +1M clones carry a foreign source (identical
    // signatures, so ungrouped LSH would pair them — grouped must NOT),
    // +2M clones keep their source (must pair).
    "q85_sharded_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      val u = d
        .unionAll(d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 1000000L).as("doc_id"), lit("xshift").as("source"), col("text")))
        .unionAll(d.filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("source"), col("text")))
      val feat = u.select(col("doc_id"), col("source"),
          Dedup.minhashFeatures(TextOps.tokens(col("text"))).as("mf"))
        .filter(col("mf").isNotNull)
      Dedup.minhashPairs(feat, "doc_id", "mf", Seq("source"))
    }),

    // FineWeb-order curation ([[graft.text.Curation.curateFineWeb]]):
    // blocklist → lang/quality/repetition gates → PER-SNAPSHOT dedup →
    // PII anonymization LAST (the paper's two ordering departures).
    // Plants, one per distinguishing stage: src5 is blocklisted (organic
    // docs must vanish); +1M exact clones carry a foreign snapshot and
    // must SURVIVE the sharded dedup; +2M same-snapshot clones with a
    // unique prefix token dodge exact dedup and drop at the near stage;
    // every doc carries a PII tail that must reach the output as
    // <email>/<num> (redaction runs on the raw text, after dedup).
    "q86_fineweb_curation" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      val aug = d.select(col("doc_id"), col("source"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com ref "),
          (col("doc_id") * 1000003 + 777777).cast("string")).as("text"))
      val u = aug
        .unionAll(aug.filter(col("doc_id") < 10)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            lit("xshift").as("source"), col("text")))
        .unionAll(aug.filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("source"),
            concat(lit("zqq"), col("doc_id").cast("string"), lit(" "),
              col("text")).as("text")))
      graft.text.Curation.curateFineWeb(u, blocked = Seq("src5"))
    }),

    // Incremental admission at SIMHASH parity
    // ([[graft.text.Curation.admitSimhash]]): q60's staged-plant pattern
    // with Hamming-flavored near families — simhash is ORDER-INVARIANT
    // (a per-token ±1 sum), so reversing a doc's tokens lands at Hamming
    // 0 with a different exact key: the deterministic near-dup plant no
    // mutation of the token multiset could provide. Even docs play the
    // frozen corpus (simhashStore only); the batch is the odd docs plus
    // +1M verbatim even copies (exact-cross), +2M reversed evens
    // (near-cross), +3M odd copies (exact-within), +4M reversed odds
    // (near-within, greedy higher-id drop).
    "q70_simhash_admit" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      def rev(c: Column): Column = concat_ws(" ", reverse(TextOps.tokens(c)))
      def wTs(df: DataFrame): DataFrame =
        df.withColumn("ts", TextOps.tokens(col("text")))
      val even = docs.filter(col("doc_id") % 2 === 0)
      val odd = docs.filter(col("doc_id") % 2 === 1)
      val store = graft.transform.Cache()(
        Dedup.simhashStore(wTs(even), "doc_id", "text", "ts"))
      val fresh = wTs(odd
        .unionByName(even.filter(col("doc_id") < 20)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(even.filter(col("doc_id") >= 20 && col("doc_id") < 40)
          .select((col("doc_id") + 2000000L).as("doc_id"), rev(col("text")).as("text")))
        .unionByName(odd.filter(col("doc_id") < 10)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
        .unionByName(odd.filter(col("doc_id") >= 10 && col("doc_id") < 30)
          .select((col("doc_id") + 4000000L).as("doc_id"), rev(col("text")).as("text"))))
      graft.text.Curation.admitSimhash(fresh, store).select("doc_id")
    }),

    // Classifier quality gate ([[graft.text.Classify]]): feature-hashing
    // linear scorer (dim 4096, seeded fixed-point weights) + integer
    // cross-multiplied mean cut at 50 micro-units + 10% seeded Bernoulli
    // rescue of the rejects — the GPT-3 quality-filter shape, fully
    // oracle-verifiable because every quantity is integer until the
    // output-edge division.
    "q72_classifier_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      graft.text.Classify.score(
          graft.text.Classify.gate(docs, "doc_id", "ts", q72Weights,
            minMeanMicros = 50000000L, rescueFraction = 0.1, seed = 9),
          "ts", q72Weights)
        .select("doc_id", "score_sum", "n_tokens", "mean_score")
    }),

    // Exact substring deduplication (ExactSubstr, Lee et al. 2022):
    // duplicated 20-token windows (747 organic cross-doc repeats at
    // sf0.01 — footer passages) cut from every position except the
    // corpus-wide first occurrence, spans merged and the doc reassembled.
    "q71_dedup_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      TextOps.dedupSpans(docs, "doc_id", "ts", k = 20)
    }),

    // Vocabulary coverage curve ([[graft.text.TextOps.vocabCoverage]]):
    // top-50 tokens with rank, cumulative count, and cumulative
    // coverage fraction of all occurrences — the curve that sizes
    // buildDictionary's topK. Running totals via the distributed prefix
    // sum (never an unpartitioned window, even over 50 rows).
    "q93_vocab_coverage" -> ((s, dir) =>
      TextOps.vocabCoverage(docsWithTokens(s, dir), "ts", topK = 50)),

    // Graded benchmark contamination ([[graft.dedup.Dedup
    // .benchmarkOverlap]]): q57's broadcast machinery reporting the
    // per-doc overlap FRACTION instead of the boolean gate — the
    // contamination distribution the published studies threshold. Same
    // doc_id % 41 bench slice as q57, so bench members score 1.0 and
    // organic docs sit at the shared-boilerplate floor.
    "q94_benchmark_overlap" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
      Dedup.benchmarkOverlap(d, "doc_id", "ts",
        d.filter(col("doc_id") % 41 === 0), "doc_id", "ts", k = 3)
    }),

    // Cluster-canonical dedup ([[graft.dedup.Components.keepCanonical]])
    // — the ACTION tier over q74's closure: q74's planted drift chains
    // (a path in the similarity graph) collapse to their minimum id,
    // every organic doc survives as its own singleton family. Pairwise
    // drop-the-larger would keep two members of each planted family
    // (the chain ends never share a band); the closure keeps exactly
    // one — that difference is what this query pins.
    "q95_cluster_keep" -> ((s, dir) => {
      val base = docsWithTokens(s, dir).select(col("doc_id"), col("ts"))
      val chains = base.filter(col("doc_id") % 29 === 3 && size(col("ts")) >= 64)
      val planted = (0 until 4).map { i =>
        chains.select((col("doc_id") * 10 + lit(1000000 + i)).as("doc_id"),
          slice(col("ts"), 1 + 8 * i, 40).as("ts"))
      }.reduce(_ union _)
      val corpus = base.union(planted)
      // persist: three consumers of the md5-heavy feature projection
      // (sig + both verify sides) — nearDeduped's persist rationale.
      val feat = graft.transform.Cache()(corpus
        .select(col("doc_id"), Dedup.minhashFeatures(col("ts")).as("mf"))
        .filter(col("mf").isNotNull))
      val pairs = Dedup.minhashPairs(feat, "doc_id", "mf").select("id1", "id2")
      graft.dedup.Components.keepCanonical(corpus, "doc_id", pairs)
    }),

    // BPE merge training ([[graft.text.TextOps.bpeMerges]]): the first
    // 6 byte-pair merges learned from the corpus word-frequency table —
    // the tokenizer-induction step upstream of every token pipeline.
    // The oracle unrolls all six rounds in SQL; `replace`'s
    // left-to-right non-overlapping scan is the greedy BPE application
    // order in both engines, so every intermediate vocabulary — and
    // therefore every argmax — is bit-identical.
    "q96_bpe_merges" -> ((s, dir) =>
      TextOps.bpeMerges(docsWithTokens(s, dir), "ts", nMerges = 6)),

    // BPE segmentation + fertility ([[graft.text.TextOps.bpeSegment]]):
    // q96's learned merges applied back to the corpus — the
    // train-then-use composition (the q69/q78 loop-closure move for the
    // tokenizer family). The 6-row merge table collects to the driver
    // (tokenizer-sized by contract) and becomes six codegen'd replaces
    // in one exploded corpus pass; the oracle re-derives the merges AND
    // the segmentation in SQL.
    "q97_bpe_fertility" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
      val merges = TextOps.bpeMerges(d, "ts", nMerges = 6)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeSegment(d, "doc_id", "ts", merges)
    }),

    // Fingerprint-overlap near-dup pairs ([[graft.text.TextOps
    // .fingerprintPairs]]): the MOSS tier — q25's winnowing fingerprints
    // composed into the q28 bucket-join shape. Winnowing's positional
    // guarantee (any ≥ w+k-1-token verbatim match shares a fingerprint)
    // makes this the deterministic-recall sibling of MinHash banding;
    // at minShared=5 the survivors are the long-passage sharers (the
    // corpus's repeated footer passages).
    "q98_fingerprint_pairs" -> ((s, dir) =>
      TextOps.fingerprintPairs(docsWithTokens(s, dir), "doc_id", "ts",
        k = 3, w = 4, minShared = 5)),

    // Hot-fingerprint-pruned pairing ([[TextOps.fingerprintPairs]] with
    // pruneAbove): the q98/q124-class SCALE knob the q223 card sizes —
    // fingerprints shared by more than 50 docs are boilerplate and
    // carry occ² of the quadratic pair work; dropping them keeps the
    // verbatim-passage recall for every pair that shares at least one
    // informative fingerprint.
    "q224_fingerprint_pruned" -> ((s, dir) =>
      TextOps.fingerprintPairs(docsWithTokens(s, dir), "doc_id", "ts",
        k = 3, w = 4, minShared = 5, pruneAbove = 50)),

    // Generic candidate-key occupancy card ([[Dedup.keyOccupancyCard]])
    // over q98's winnowing-fingerprint keys: the q219 observability
    // pattern extended beyond sign-LSH to ANY banded family — the card
    // that tells you whether q98/q124-class cost lives in the typical
    // fingerprint (re-tune k/w) or a few hot ones (dedup clones first).
    "q223_fingerprint_occupancy" -> ((s, dir) =>
      graft.dedup.Dedup.keyOccupancyCard(
        TextOps.fingerprint(docsWithTokens(s, dir), "ts", k = 3, w = 4)
          .select(explode_outer(col("fps")).as("fp"))
          .filter(col("fp").isNotNull), // exactly q98's candidate stream
        Seq("fp"))),

    // Content-defined chunking ([[graft.text.TextOps.cdcChunks]]): the
    // insertion-robust repeated-passage inventory — boundaries are a
    // pure function of token content (hash % 16 == 0), so both engines
    // cut identical variable-length chunks and the duplicate report
    // (chunks occurring ≥ 2 times corpus-wide) is hash-exact. The
    // corpus's planted footer passages surface here as high-n_occ
    // chunks.
    "q99_cdc_chunks" -> ((s, dir) =>
      TextOps.cdcChunks(docsWithTokens(s, dir), "doc_id", "ts", modulus = 16)),

    // Count-min heavy hitters ([[graft.sketch.Sketch.countMin]]): the
    // fixed-memory frequency tier — 4×1024 counters regardless of
    // vocabulary size, estimates = min over rows, always ≥ exact
    // (collisions only add). Probing the exact top-20 makes the
    // over-count measurable: (word, cnt, cnt_cms, over_count), every
    // value an integer, the whole sketch replayed in SQL.
    "q100_count_min" -> ((s, dir) => {
      val words = docsWithTokens(s, dir).select(explode(col("ts")).as("word"))
      val top = words.groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc).limit(20)
      val sketch = graft.sketch.Sketch.countMin(words, "word")
      top.join(graft.sketch.Sketch.cmsEstimate(sketch, top.select("word"), "word"),
          Seq("word"))
        .select(col("word"), col("cnt"), col("cnt_cms"),
          (col("cnt_cms") - col("cnt")).as("over_count"))
    }),

    // Deterministic HyperLogLog ([[graft.sketch.Sketch.hyperLogLog]]):
    // the fixed-memory cardinality tier over the corpus's 3-gram
    // shingle stream (duplicates galore — exactly what HLL ignores).
    // The harmonic sum is an exact integer (s_int) divided once at the
    // output edge, so even the ESTIMATE double is bit-identical in
    // DuckDB; n_exact rides alongside for the error read.
    "q101_hll_distinct" -> ((s, dir) => {
      val sh = docsWithTokens(s, dir)
        .select(explode_outer(Dedup.minhashFeatures(col("ts"), 3, 1)("shingles"))
          .as("sh"))
        .filter(col("sh").isNotNull)
      graft.sketch.Sketch.hyperLogLog(sh, "sh", b = 8)
        .crossJoin(broadcast(sh.agg(count_distinct(col("sh")).as("n_exact"))))
    }),

    // Per-domain document cap ([[graft.text.Curation.capPerGroup]]):
    // the C4/FineWeb-style per-domain frequency discipline — at most 10
    // docs per source, chosen by seeded-hash order. The selection is the
    // bounded TopK aggregator (map-side reduced to ≤ cap rows per group
    // before any shuffle), NOT a window sort over the hot domain; the
    // oracle is the row_number form over the same hash, so the kept
    // sets must agree exactly.
    "q102_domain_cap" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("doc_id"), col("n_chars"))
      graft.text.Curation.capPerGroup(d, "source", "doc_id", cap = 10, seed = 17)
    }),

    // Corpus-derived length-percentile gate
    // ([[TextOps.lengthPercentileGate]]): the Gopher/C4 length rule with
    // cuts MEASURED from the corpus's own bounded length histogram
    // (smallest length whose cumulative count reaches ceil(total·p/100),
    // compared as the integer cross-product 100·cum >= total·p), keeping
    // the [10, 90] percentile band. Both engines derive the same two
    // integer cuts, so the kept set is hash-exact.
    "q103_length_gate" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
        .select(col("doc_id"), size(col("ts")).cast("bigint").as("n_tokens"))
      TextOps.lengthPercentileGate(d, "n_tokens", pLo = 10, pHi = 90)
    }),

    // Mixture with epoch repeats ([[graft.text.Curation.mixWithRepeats]]):
    // the UP-sampling half of domain mixing — the small "wiki" slice
    // (doc_id % 10) at a 50% token share of a 30k budget runs ~5.5
    // epochs (5 full copies + a 47.8% Bernoulli sixth), while "web" is
    // down-sampled at 61.4% exactly as [[Curation.mix]] would. The
    // oracle replays the epoch expansion with generate_series and the
    // same double/floor sequence, so every (doc, epoch) row is
    // hash-exact.
    "q104_mix_epochs" -> ((s, dir) => {
      val n = docsWithTokens(s, dir)
        .select(col("doc_id"), size(col("ts")).cast("bigint").as("n_tokens"))
      graft.text.Curation.mixWithRepeats(
        Seq(("wiki", n.filter(col("doc_id") % 10 === 0), 0.5),
            ("web", n.filter(col("doc_id") % 10 =!= 0), 0.5)),
        "doc_id", "n_tokens", budgetTokens = 30000, seed = 13)
        .select("source", "epoch", "doc_id", "n_tokens")
    }),

    // Johnson–Lindenstrauss candidate tier ([[Ann.jlTopK]]): embeddings
    // int8-quantized and sign-projected 64 → 32 dims (one codegen
    // matDots per row; quantize-then-project makes every reduced
    // component an exact integer), top-100 candidates per query in the
    // cheap reduced space, exact full-dimension rerank to the final
    // top-5. Approximate, yet ORACLE-EXACT — both tiers' arithmetic is
    // bit-stable, so the oracle replays candidates AND rerank. Recall
    // vs brute force is asserted in TextDedupSpec.
    "q105_ann_jl" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      Ann.jlTopK(emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        k = 5, outDim = 32, oversample = 20, seed = 77)
    }),

    // ANN recall evaluation ([[Ann.recallReport]]): every approximate
    // tier (q31 LSH, q39 IVF, q105 JL) measured against the exact
    // top-5 over the SAME 50-query set — one row per method with
    // matched pairs and recall@5. The tuning loop every published ANN
    // deployment runs before committing cluster hours, and oracle-
    // exact because every tier is (the oracle composes the three
    // tiers' own SQL as subqueries).
    "q106_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 50)
      val ex = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
      Ann.recallReport(ex, Seq(
        "lsh" -> Ann.lshTopK(emb, q, "vec_id", "embedding", k = 5,
          seed = 42, tables = 6, planes = 6, dim = 64),
        "ivf" -> Ann.ivfTopK(emb, q, "vec_id", "embedding", k = 5,
          seed = 42, nCentroids = 16, nProbe = 4),
        "jl" -> Ann.jlTopK(emb, q, "vec_id", "embedding", k = 5,
          outDim = 32, oversample = 20, seed = 77)))
    }),

    // Per-group HLL ([[graft.sketch.Sketch.hyperLogLogByGroup]]): one
    // fixed-memory cardinality sketch per SOURCE over the 3-gram
    // shingle stream — the per-domain distinct-content report that an
    // exact count_distinct GROUP BY would pay a corpus-sized shuffle
    // for. Registers key on (source, bucket); the integer harmonic sum
    // makes even the estimate double bit-identical. n_exact rides per
    // group for the error read.
    "q107_hll_by_source" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"),
        TextOps.tokens(col("text")).as("ts"))
      val sh = d.select(col("source"),
          explode_outer(Dedup.minhashFeatures(col("ts"), 3, 1)("shingles")).as("sh"))
        .filter(col("sh").isNotNull)
      graft.sketch.Sketch.hyperLogLogByGroup(sh, "source", "sh", b = 8)
        .join(sh.groupBy("source").agg(count_distinct(col("sh")).as("n_exact")),
          Seq("source"))
    }),

    // PII incidence report ([[TextOps.piiIncidence]]): per-source doc
    // counts matching each detection pattern (email / phone-ish / IPv4)
    // — the audit run before [[TextOps.redact]] scrubs, with plants
    // that vary by doc parity (every doc an email tail, %3 a phone, %5
    // an IP) so each pattern column is load-bearing. RE2-compatible
    // regexes make every flag reproducible in DuckDB.
    "q108_pii_report" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("source"), concat(col("text"),
        lit(" user"), col("doc_id").cast("string"), lit("@mail.example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" call +1 555-01"), (col("doc_id") % 100).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10.0.0."), (col("doc_id") % 256).cast("string")))
          .otherwise(lit(""))).as("text"))
      TextOps.piiIncidence(planted, "source", "text")
    }),

    // Exact stratified split assignment
    // ([[graft.sources.SplitSource.assignSplitStratified]]): within
    // each source, docs rank by seeded hash and the 80/10/10 boundaries
    // cut the RANKS — every 25-doc stratum lands exactly 20/2/3 where
    // the Bernoulli assignment is exact only in expectation. The oracle
    // is the row_number + floor form over the same hash.
    "q109_stratified_split" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("source", "doc_id")
      graft.sources.SplitSource.assignSplitStratified(d, "source", col("doc_id"),
        seed = 19,
        weights = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    }),

    // Corpus datasheet ([[TextOps.corpusDatasheet]]): the per-source
    // dataset-card table — doc/token/char counts, deci-integer mean and
    // histogram median lengths, exact-duplicate incidence, email-doc
    // counts. Plants make the interesting columns load-bearing: the
    // %17 slice unions back in (exact dups → dup_frac > 0) and %4 docs
    // get an email tail. Every column integer or long/long division.
    "q110_corpus_datasheet" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("source"), col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example.com")))
            .otherwise(lit(""))).as("text"))
      val planted = base.unionByName(base.filter(col("doc_id") % 17 === 0))
        .select("source", "text")
      TextOps.corpusDatasheet(planted, "source", "text")
    }),

    // C4 line-and-page rules ([[TextOps.c4LineFilter]]): one plant per
    // rule — the organic line gains terminal punctuation (kept), a
    // punctuation-free CTA line drops (terminal-punct rule), a
    // two-word line with punctuation drops (min-words rule), a
    // "javascript" notice drops (banned-term rule), and the %31 docs
    // gain "lorem ipsum" so the whole page drops (page rule).
    "q111_c4_line_filter" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit("."),
          lit("\nclick here to subscribe"),
          lit("\nread more."),
          when(col("doc_id") % 7 === 0, lit("\nenable javascript to continue."))
            .otherwise(lit("")),
          when(col("doc_id") % 31 === 0, lit("\nfiller lorem ipsum text here."))
            .otherwise(lit(""))).as("text"))
      TextOps.c4LineFilter(planted, "doc_id", "text")
    }),

    // Deterministic global shuffle layout
    // ([[TextOps.packSequencesOrdered]] keyed by seeded hash): trainers
    // need documents concatenated in SHUFFLED order (id-order packing
    // correlates adjacent batches); ORDER BY random() is irreproducible
    // under retries, so the shuffle key is the engine's seeded hash —
    // the same two-phase distributed prefix sum, a different total
    // order, bit-identical on any engine and any rerun.
    "q112_shuffled_pack" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
        .select(col("doc_id"), size(col("ts")).cast("bigint").as("n_tokens"))
        .withColumn("shuffle_key", Stable.seededHash(23, col("doc_id")))
      TextOps.packSequencesOrdered(d, "doc_id", "n_tokens", seqLen = 512,
          orderBy = Seq(col("shuffle_key")))
        .select("doc_id", "shuffle_key", "n_tokens", "tok_offset",
          "first_seq", "last_seq")
    }),

    // Quality-WEIGHTED sampling ([[graft.text.Classify.sampleByQuality]]):
    // the DCLM/FineWeb-Edu soft gate — keep probability ramps linearly
    // with the q72 classifier's mean micro-score across [-150, +150]
    // mean-units, the Bernoulli threshold cross-multiplied away so the
    // whole decision is exact integer arithmetic in DECIMAL(38,0) /
    // HUGEINT. Contrast with q72's hard cut + rescue over the same
    // scores.
    "q113_quality_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      graft.text.Classify.score(
          graft.text.Classify.sampleByQuality(docs, "doc_id", "ts", q72Weights,
            loMicros = -150000000L, hiMicros = 150000000L, seed = 11),
          "ts", q72Weights)
        .select("doc_id", "score_sum", "n_tokens", "mean_score")
    }),

    // Line-level language segmentation ([[TextOps.langSegments]]): the
    // mixed-language-document report — %6 docs gain a Spanish stopword
    // line and %9 docs a French one, so mix_frac flags exactly the
    // planted interleavings while pure docs read 0. Per-line argmax and
    // per-doc dominant-language tie-breaks are both integer + lex —
    // fully replayable.
    "q114_lang_segments" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 6 === 0, lit("\nel la de y que el la que"))
            .otherwise(lit("")),
          when(col("doc_id") % 9 === 0, lit("\nle la de et un le et un"))
            .otherwise(lit(""))).as("text"))
      TextOps.langSegments(planted, "doc_id", "text")
    }),

    // Cross-source overlap matrix ([[Dedup.overlapMatrix]]): every %11
    // doc's text is cloned into src0, so each source overlaps src0 by
    // exactly its planted clones (and src0 overlaps back) — the
    // corpus-overlap table multi-source recipes publish. Zero-overlap
    // pairs emit no row; both counts integer-exact.
    "q115_overlap_matrix" -> ((s, dir) => {
      val base = t(s, dir, "documents").select("source", "doc_id", "text")
      val planted = base.unionByName(
        base.filter(col("doc_id") % 11 === 0).withColumn("source", lit("src0")))
        .select("source", "text")
      Dedup.overlapMatrix(planted, "source", "text")
    }),

    // C4's published order composed ([[graft.text.Curation.curateC4]]):
    // one plant per stage — a punctuation-free CTA line (line rule), a
    // "badword" line that kills its whole page (word rule), %19 pages
    // replaced with Spanish stopwords (language rule), %31 lorem-ipsum
    // pages (page rule), and a shared three-line footer on %13 whose
    // every occurrence except the corpus-wide first is cut by the
    // line-granularity span dedup. Hash-exact end-to-end.
    "q116_c4_curation" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 19 === 0, lit("el la de y que la el y va."))
            .otherwise(concat(col("text"), lit("."))),
          lit("\nclick here to subscribe"),
          when(col("doc_id") % 13 === 0,
            lit("\nvisit our store today.\nthanks for reading along.\nsee you next time."))
            .otherwise(lit("")),
          when(col("doc_id") % 23 === 0, lit("\nthis content has badword inside."))
            .otherwise(lit("")),
          when(col("doc_id") % 31 === 0, lit("\nfiller lorem ipsum text here."))
            .otherwise(lit(""))).as("text"))
      graft.text.Curation.curateC4(planted, bannedWords = Seq("badword"))
    }),

    // Trigram LM with quantized stupid backoff
    // ([[graft.text.Perplexity.scoreTrigram]]): the tier between q75's
    // bigram model and a full KenLM — highest SEEN order wins, one
    // integer bit per backoff level, so every cost is exact. Same
    // planted OOV streams as q75 ('~'-suffixed tokens cost unseenBits
    // per triple and fail the keep flag); organic docs back off
    // gracefully through the bigram table.
    "q117_trigram_lm" -> ((s, dir) => {
      val docs = docsWithTokens(s, dir).select(col("doc_id"), col("ts"))
      val planted = docs.filter(col("doc_id") % 23 === 7)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          transform(col("ts"), t => concat(t, lit("~"))).as("ts"))
      val ref = docs.filter(col("doc_id") % 5 < 2)
      graft.text.Perplexity.scoreTrigram(docs.union(planted),
          graft.text.Perplexity.trigramCounts(ref),
          graft.text.Perplexity.bigramCounts(ref))
        .withColumn("keep",
          when(col("total_bits") <= col("n_trigrams") * 9, 1).otherwise(0).cast("int"))
    }),

    // The data-mixture table ([[graft.text.Curation.mixReport]]):
    // q104's two-source mixture as the LLaMA-table-1 report — derived
    // rate/epoch scalars AND realized acceptance counts side by side,
    // so intent-vs-realized disagreement is one table read. The rate
    // double is the same IEEE product/quotient both engines compute.
    "q118_mix_report" -> ((s, dir) => {
      val n = docsWithTokens(s, dir)
        .select(col("doc_id"), size(col("ts")).cast("bigint").as("n_tokens"))
      graft.text.Curation.mixReport(
        Seq(("wiki", n.filter(col("doc_id") % 10 === 0), 0.5),
            ("web", n.filter(col("doc_id") % 10 =!= 0), 0.5)),
        "doc_id", "n_tokens", budgetTokens = 30000, seed = 13)
    }),

    // Split-leakage audit (q109's splits × q94's overlap machinery):
    // after train/test assignment, every TRAIN doc sharing shingles
    // with the TEST split — the train-test contamination check run
    // before any benchmark number is trusted. The %37 clones (same
    // text, new id, independent split coin) plant cross-split verbatim
    // leaks that surface at overlap 1.0; organic rows surface the
    // shared-phrase background. Composition of two oracled operators,
    // itself oracled end-to-end.
    "q119_split_leakage" -> ((s, dir) => {
      val d = docsWithTokens(s, dir).select(col("doc_id"), col("ts"))
      val planted = d.unionByName(d.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("ts")))
      val split = graft.sources.SplitSource.assignSplit(planted, col("doc_id"),
        seed = 42, weights = Seq("train" -> 0.9, "test" -> 0.1))
      Dedup.benchmarkOverlap(
          split.filter(col("split") === "train").select("doc_id", "ts"), "doc_id", "ts",
          split.filter(col("split") === "test").select("doc_id", "ts"), "doc_id", "ts",
          k = 3)
        .filter(col("n_hits") > 0)
    }),

    // IVF cluster-balance report ([[Ann.ivfBalance]]): per-centroid
    // inverted-list sizes and corpus shares for q39's quantizer — the
    // index health table that justifies (or indicts) the refineIters
    // knob with a measurement. Same centroid sample and assignment
    // tie-breaks as the IVF oracles, so every count is hash-exact.
    "q120_ivf_balance" -> ((s, dir) =>
      Ann.ivfBalance(t(s, dir, "embeddings"), "vec_id", "embedding",
        seed = 42, nCentroids = 16)),

    // Vocabulary drift ([[TextOps.vocabDrift]]): the top-50 combined
    // tokens of the even/odd doc halves with per-side counts, shares,
    // and the share delta — the distribution-shift monitor for a
    // refreshed training corpus. Counts integer, shares long/long
    // divisions.
    "q121_vocab_drift" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
      TextOps.vocabDrift(d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 =!= 0), "ts", topK = 50)
    }),

    // Context-window chunking ([[TextOps.splitLongDocs]]): every doc
    // split into 40-token windows at 10-token overlap (stride 30) —
    // the preprocessor for docs longer than the model's context. The
    // chunk count is an integer formula, the slices are pure
    // projections, and the oracle replays the identical geometry. The
    // query pins chunk CONTENT via hash64 of the space-joined chunk
    // (tokens are whitespace-split, so the join is injective) instead
    // of the raw array — every output column is scalar, which the
    // driver's pandas comparator requires to sort rows.
    "q122_doc_chunks" -> ((s, dir) =>
      TextOps.splitLongDocs(docsWithTokens(s, dir), "doc_id", "ts",
        maxTokens = 40, overlap = 10)
        .select(col("doc_id"), col("chunk_id"),
          Stable.hash64(concat_ws(" ", col("chunk_toks"))).as("chunk_hash"),
          col("n_chunk_tokens"))),

    // Embedding hygiene ([[Ann.embeddingHealth]]): the one-row corpus
    // health check before any ANN tier — zero-norm counts, dimension
    // mismatches, quantization-scale extrema, integer qnorm² extrema
    // and deci-mean. A planted zero vector and a planted 32-dim vector
    // make the counting columns load-bearing.
    "q123_embedding_health" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = emb.unionByName(
        emb.filter(col("vec_id") === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), _ => lit(0f)).as("embedding")))
        .unionByName(
          emb.filter(col("vec_id") === 1)
            .select((col("vec_id") + 2000000L).as("vec_id"),
              slice(col("embedding"), 1, 32).as("embedding")))
      Ann.embeddingHealth(planted, "vec_id", "embedding", dim = 64)
    }),

    // Asymmetric containment ([[TextOps.containmentPairs]]): %43 docs
    // spawn an EXCERPT (their first 30 tokens, new id) — the excerpt
    // is near-fully contained in its source (containment ≈ 1 in the
    // excerpt→source direction) while the source is not in the
    // excerpt; the 1/2 threshold keeps exactly the directed rows a
    // symmetric Jaccard would blur. Winnowing recall is positional,
    // so both engines find the identical pair set.
    "q124_containment" -> ((s, dir) => {
      val d = docsWithTokens(s, dir).select(col("doc_id"), col("ts"))
      val planted = d.unionByName(d.filter(col("doc_id") % 43 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          slice(col("ts"), 1, 30).as("ts")))
      TextOps.containmentPairs(planted, "doc_id", "ts",
        k = 3, w = 4, tauNum = 1, tauDen = 2)
    }),

    // Hot-fingerprint-pruned containment ([[TextOps.containmentPairs]]
    // with pruneAbove — q224's knob threaded through the directed
    // score, VERDICT r12 #2): fingerprints in more than 50 docs leave
    // the UNIVERSE, so both n_shared and the n_src_fps denominator
    // count informative fingerprints only and `containment` stays a
    // true fraction. Same planted excerpts as q124; the boilerplate
    // occ² head of the pair explosion is gone.
    "q225_containment_pruned" -> ((s, dir) => {
      val d = docsWithTokens(s, dir).select(col("doc_id"), col("ts"))
      val planted = d.unionByName(d.filter(col("doc_id") % 43 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          slice(col("ts"), 1, 30).as("ts")))
      TextOps.containmentPairs(planted, "doc_id", "ts",
        k = 3, w = 4, tauNum = 1, tauDen = 2, pruneAbove = 50)
    }),

    // BM25 keyword retrieval ([[TextOps.bm25TopK]]): three literal
    // queries over the corpus vocabulary (query 3 carries a term absent
    // from every document — its ranking must come from `spark` alone).
    // All-integer scoring (quantized idf bits, integer avgdl, cleared
    // k1/b denominators) so both engines sum longs, never floats.
    "q130_bm25_search" -> ((s, dir) =>
      TextOps.bm25TopK(docsWithTokens(s, dir), "doc_id", "ts",
        Seq(1L -> Seq("hash", "join", "table"),
          2L -> Seq("window", "stream", "batch"),
          3L -> Seq("spark", "nosuchterm")), k = 10)),

    // MMR diverse selection ([[graft.ann.Ann.mmrSelect]]): greedy
    // maximal-marginal-relevance over a bounded candidate pool —
    // relevance = cosine to doc 0's embedding, 4 rounds at lambda 7/10.
    // Every round's argmax replays in SQL (exact integer coefficients,
    // the q30 cosine discipline), so the whole selection is hash-exact.
    "q196_mmr_select" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val pool = emb.filter(col("vec_id") >= 1 && col("vec_id") < 60)
        .select(col("vec_id"), col("embedding"),
          Ann.cosine(col("embedding").cast("array<double>"),
            typedlit(q0)).as("rel"))
      Ann.mmrSelect(pool, "vec_id", "embedding", "rel", k = 4)
    }),

    // Hybrid retrieval ([[graft.text.TextOps.rrfFuse]]): reciprocal-rank
    // fusion of q130's lexical BM25 ranking with a semantic ANN ranking
    // over the same doc-id space (vec_id i = doc i's embedding — the
    // fixture correspondence q50/q55 use). Queries 1-3 fuse their BM25
    // list with the cosine neighbors of their own embedding; scores are
    // integer `div` reciprocals summed as longs, so the fused order is
    // replayed exactly by the oracle.
    "q193_hybrid_retrieval" -> ((s, dir) => {
      val lex = TextOps.bm25TopK(docsWithTokens(s, dir), "doc_id", "ts",
        Seq(1L -> Seq("hash", "join", "table"),
          2L -> Seq("window", "stream", "batch"),
          3L -> Seq("spark", "nosuchterm")), k = 20)
      val emb = t(s, dir, "embeddings")
      val sem = Ann.bruteForceTopK(emb,
          emb.filter(col("vec_id") >= 1 && col("vec_id") < 4),
          "vec_id", "embedding", k = 20)
        .withColumnRenamed("neighbor_id", "doc_id")
      TextOps.rrfFuse(Seq(
          lex.select("query_id", "rank", "doc_id"),
          sem.select("query_id", "rank", "doc_id")),
        "doc_id", k = 10)
    }),

    // PageRank over a seeded synthetic link graph
    // ([[graft.operators.Graphs.pageRank]]): doc i emits 1 + (i mod 3)
    // links whose targets are md5-derived (uniform over the corpus) —
    // the deterministic stand-in for a crawl's link column, exercising
    // the operator end-to-end: multigraph outdegrees, teleport base,
    // dangling leak, five exact integer iterations.
    "q131_pagerank" -> ((s, dir) =>
      graft.operators.Graphs.pageRank(syntheticLinkGraph(s, dir),
        "src", "dst", iters = 5)),

    // 2-core backbone ([[graft.operators.Graphs.kCore]]): peel the
    // pendant/tree fringe off the same link graph until min degree >= 2;
    // the oracle unrolls the declared maxRounds of peeling (idempotent
    // past the fixed point), so convergence-in-contract is what's
    // verified.
    "q211_kcore" -> ((s, dir) =>
      graft.operators.Graphs.kCore(syntheticLinkGraph(s, dir),
        "src", "dst", k = 2)),

    // Centrality-weighted selection ([[graft.operators.Graphs
    // .rankWeightedSample]] ∘ [[graft.operators.Graphs.pageRank]]):
    // q131's ranks turned into a curation gate — the most central doc
    // survives with certainty, the periphery thins in proportion; the
    // seeded integer Bernoulli makes the kept set bit-reproducible.
    "q143_rank_select" -> ((s, dir) => {
      // The rank table is consumed twice (the max scalar and the
      // acceptance filter) — persist the N-row frame so the
      // five-iteration join lineage materializes once, not per consumer.
      val ranks = graft.operators.Graphs.pageRank(syntheticLinkGraph(s, dir),
        "src", "dst", iters = 5).persist()
      graft.operators.Graphs.rankWeightedSample(ranks, "node", "rank", seed = 23)
    }),

    // Label-propagation communities ([[graft.operators.Graphs
    // .labelPropagation]]): three synchronous rounds over the q131 link
    // graph (undirected, deduped) — densely-knit document clusters,
    // every round a deterministic (count DESC, label ASC) argmax.
    "q142_communities" -> ((s, dir) =>
      graft.operators.Graphs.labelPropagation(syntheticLinkGraph(s, dir),
        "src", "dst", iters = 3)),

    // Trained-classifier loop closure ([[graft.text.Classify
    // .trainNaiveBayes]] → [[graft.text.Classify.packWeights]] →
    // [[graft.text.Classify.score]]): Naive Bayes log-odds LEARNED from
    // two seed slices of the corpus itself (lang 'en' positives vs 'zh'
    // negatives — the GPT-3/CCNet "curated vs crawl" setup), quantized
    // to integer bits, hashed into the dim-256 scorer, then the whole
    // corpus scored — q72's scorer with REAL weights instead of seeded
    // stand-ins. mean_score is the one output-edge int/int division.
    "q133_trained_classifier" -> ((s, dir) => {
      val dl = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("ts"))
      val w = graft.text.Classify.packWeights(
        graft.text.Classify.trainNaiveBayes(
          dl.filter(col("lang") === "en"), dl.filter(col("lang") === "zh"),
          "ts"), dim = 256)
      graft.text.Classify.score(dl, "ts", w)
        .select("doc_id", "score_sum", "n_tokens", "mean_score")
    }),

    // Margin-based bitext mining ([[Ann.marginMine]]): the CCMatrix
    // ratio-margin criterion between the even- and odd-label halves of
    // the embedding table (the two-languages stand-in) — forward-best
    // pairs whose cosine stands out 1.05× against both 4-NN
    // neighborhoods, every quantity integer micro-units.
    "q134_bitext_margin" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.marginMine(
        e.filter(col("label") % 2 === 0), e.filter(col("label") % 2 === 1),
        "vec_id", "embedding", k = 4, tauNum = 105, tauDen = 100)
    }),

    // Banded margin mining ([[Ann.marginMineLsh]]): q134's ratio-margin
    // criterion at corpus×corpus scale — sign-LSH band-bucket candidates
    // between the halves (key-partitioned, occupancy-guarded; neither
    // side broadcasts or crosses), margins evaluated on the candidate
    // neighborhood. The scale path the exact tier's guard names,
    // measured against it by the sf1 probe (exact: 71.7× wall for 10×
    // data; banded: near-linear).
    "q217_bitext_margin_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.marginMineLsh(
        e.filter(col("label") % 2 === 0), e.filter(col("label") % 2 === 1),
        "vec_id", "embedding", k = 4, tauNum = 105, tauDen = 100,
        seed = 42, tables = 4, planes = 8, dim = 64)
    }),

    // Served retrieval ([[TextOps.writePostings]] →
    // [[TextOps.bm25TopKFromIndex]]): q130's queries answered from the
    // MATERIALIZED term-bucketed posting index (the q78 loop-closure
    // pattern applied to search) — probe-sized work per batch, results
    // bit-identical to the live path, so the oracle is q130's verbatim.
    "q139_bm25_indexed" -> ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_q139_postings"
      TextOps.writePostings(docsWithTokens(s, dir), "doc_id", "ts",
        "graft_q139_postings", path)
      TextOps.bm25TopKFromIndex(s, "graft_q139_postings",
        Seq(1L -> Seq("hash", "join", "table"),
          2L -> Seq("window", "stream", "batch"),
          3L -> Seq("spark", "nosuchterm")), k = 10)
    }),

    // Conjunctive boolean retrieval ([[TextOps.booleanAndFromIndex]])
    // from the same bucketed postings build as q139: docs containing
    // ALL query terms; query 3 carries an absent term — empty by
    // conjunction.
    "q174_boolean_search" -> ((s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_q174_postings"
      TextOps.writePostings(docsWithTokens(s, dir), "doc_id", "ts",
        "graft_q174_postings", path)
      TextOps.booleanAndFromIndex(s, "graft_q174_postings",
        Seq(1L -> Seq("hash", "join"),
          2L -> Seq("window", "stream", "batch"),
          3L -> Seq("spark", "nosuchterm")))
    }),

    // Quality-ruled cluster survivors ([[graft.dedup.Components
    // .keepBest]]): q95's closure with the published pipelines' ACTUAL
    // keep rule — the LONGEST member wins, not the oldest id. The
    // plants are EXTENDED clones (source tokens + a wrapped slice), so
    // the correct survivor of every planted family is a clone, never
    // the original — precisely the case min-id gets wrong.
    "q148_keep_best" -> ((s, dir) => {
      val base = docsWithTokens(s, dir).select(col("doc_id"), col("ts"))
      val chains = base.filter(col("doc_id") % 29 === 3 && size(col("ts")) >= 64)
      val planted = (0 until 2).map { i =>
        chains.select((col("doc_id") * 10 + lit(1000000 + i)).as("doc_id"),
          concat(col("ts"), slice(col("ts"), 1, 10 + 20 * i)).as("ts"))
      }.reduce(_ union _)
      val corpus = base.union(planted)
        .withColumn("n_toks", size(col("ts")).cast("bigint"))
      // persist: three consumers of the md5-heavy feature projection
      // (sig + both verify sides) — nearDeduped's persist rationale.
      val feat = graft.transform.Cache()(corpus
        .select(col("doc_id"), Dedup.minhashFeatures(col("ts")).as("mf"))
        .filter(col("mf").isNotNull))
      val pairs = Dedup.minhashPairs(feat, "doc_id", "mf").select("id1", "id2")
      graft.dedup.Components.keepBest(corpus, "doc_id", "n_toks", pairs)
    }),

    // Higher-order array functions WITHOUT explode: per-doc token-
    // length stats computed entirely inside the array (transform →
    // aggregate/filter) — the shuffle-free per-row shape the engine's
    // quantization/signature tiers are built on, surfaced as a query.
    "q165_hof_stats" -> ((s, dir) =>
      docsWithTokens(s, dir).select(col("doc_id"),
        size(col("ts")).cast("bigint").as("n_tokens"),
        aggregate(transform(col("ts"), t => length(t).cast("bigint")),
          lit(0L), (a, x) => a + x).as("sum_len"),
        aggregate(transform(col("ts"), t => length(t).cast("bigint")),
          lit(0L), (a, x) => greatest(a, x)).as("max_len"),
        size(filter(col("ts"), t => length(t) >= 6)).cast("bigint")
          .as("n_long_tokens"))),

    // Transitive reachability via a RECURSIVE CTE through the SQL
    // entry point (Spark 4's WITH RECURSIVE) — BFS over the q131 link
    // graph from doc 0, hop-bounded; min(d) collapses the path
    // multiplicity. DuckDB runs the same recursion — the oracle IS the
    // same recursive query over the same generated edges.
    "q166_reachability" -> ((s, dir) => {
      syntheticLinkGraph(s, dir).createOrReplaceTempView("graft_q166_edges")
      s.sql("""WITH RECURSIVE reach(node, d) AS (
              |  SELECT CAST(0 AS BIGINT) AS node, 0 AS d
              |  UNION ALL
              |  SELECT e.dst, r.d + 1 FROM reach r
              |  JOIN graft_q166_edges e ON e.src = r.node
              |  WHERE r.d < 3)
              |SELECT node, CAST(min(d) AS BIGINT) AS dist
              |FROM reach GROUP BY node""".stripMargin)
    }),

    // Exact descriptive moments: per-source n/Σx/Σx² as LONGS, the
    // mean and population variance derived by ONE fixed-expression
    // division each — the reformulation that makes variance
    // deterministic where var_pop()'s float accumulation is not (agg
    // order is unspecified; integer sums are order-free).
    "q161_moments" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_x"),
          sum(col("n_chars") * col("n_chars")).as("sum_x2"))
        .select(col("source"), col("n"), col("sum_x"), col("sum_x2"),
          (col("sum_x").cast("double") / col("n").cast("double")).as("mean_x"),
          ((col("n") * col("sum_x2") - col("sum_x") * col("sum_x")).cast("double")
            / (col("n") * col("n")).cast("double")).as("var_x"))),

    // Exact Pearson correlation (n_chars vs token count): all five
    // sums are longs, r = cov_n / sqrt(varx_n · vary_n) with the
    // products taken in double (single IEEE rounding) and sqrt
    // correctly rounded — bit-stable where corr()'s running floats
    // are not. One corpus scan, one row.
    "q162_correlation" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("n_chars").as("x"),
          size(TextOps.tokens(col("text"))).cast("bigint").as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n"), col("sx"), col("sy"), col("sxy"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
            .as("pearson_r"))),

    // Chi-square independence card (lang × source), MICRO-QUANTIZED:
    // each cell's (O·N − rT·cT)²·10⁶ div (N·rT·cT) is an exact
    // integer, so the statistic is a LONG sum — order-free — where a
    // float Σ(O−E)²/E would be agg-order-dependent. dof rides along.
    // The squared count-product needs 128-bit intermediates: at the
    // sf10 probe (N = 5·10⁵ docs) |O·N − rT·cT| reaches ~10¹¹, so its
    // square ·10⁶ is ~10²⁸ ≫ 2⁶³ — Spark's ANSI long multiply threw
    // exactly there (the r13 decade sweep's catch). DECIMAL(38,0)
    // carries the numerator exactly through N ≈ 3·10⁷ docs per
    // contingency (d²·10⁶ ≤ 10³⁸); DuckDB's side already promotes to
    // HUGEINT (sum() returns INT128), so both engines stay exact and
    // identical. Beyond that, the double-based Stats.chi2Contingency
    // (q199) is the scale tier — same statistic, micro-floored.
    "q163_chi2" -> ((s, dir) => {
      val cells = t(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("__o"))
      val rt = cells.groupBy("lang").agg(sum(col("__o")).as("__rt"))
      val ct = cells.groupBy("source").agg(sum(col("__o")).as("__ct"))
      val nn = cells.agg(coalesce(sum(col("__o")), lit(0L)).as("__n"),
        count_distinct(col("lang")).as("__nl"),
        count_distinct(col("source")).as("__ns"))
      cells.join(broadcast(rt), Seq("lang"))
        .join(broadcast(ct), Seq("source"))
        .crossJoin(broadcast(nn))
        .select(expr("CAST((CAST(__o * __n - __rt * __ct AS DECIMAL(20,0)) * " +
          "CAST(__o * __n - __rt * __ct AS DECIMAL(20,0)) * 1000000) div " +
          "(CAST(__n AS DECIMAL(12,0)) * __rt * __ct) AS BIGINT)").as("__t"),
          col("__nl"), col("__ns"))
        .groupBy(col("__nl"), col("__ns"))
        .agg(coalesce(sum(col("__t")), lit(0L)).as("chi2_micro"))
        .select((( col("__nl") - 1) * (col("__ns") - 1)).as("dof"),
          col("chi2_micro"))
    }),

    // Lexical-diversity card: per-source unigram and bigram type/token
    // ratios (distinct / total — the ROUGE-style diversity signal a
    // template-heavy source fails) plus token totals. Exact longs and
    // long/long edge divisions; bigrams via the posexplode successor
    // probe (q153's shape), distincts collapse map-side.
    "q158_diversity" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"),
        TextOps.tokens(col("text")).as("ts"))
      val uni = d.select(col("source"), explode(col("ts")).as("w"))
      val bi = d.select(col("source"), col("ts").as("__ts"),
          posexplode(col("ts")).as(Seq("__i", "__w")))
        .select(col("source"), concat_ws("\u0001", col("__w"),
          expr("try_element_at(__ts, __i + 2)")).as("b"),
          expr("try_element_at(__ts, __i + 2)").as("__nx"))
        .filter(col("__nx").isNotNull)
      val u = uni.groupBy("source").agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("w")).as("n_types"))
      val b = bi.groupBy("source").agg(count(lit(1)).as("n_bigrams"),
        count_distinct(col("b")).as("n_bigram_types"))
      u.join(b, Seq("source"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          (col("n_types").cast("double") / col("n_tokens").cast("double"))
            .as("ttr"),
          col("n_bigrams"), col("n_bigram_types"),
          (col("n_bigram_types").cast("double") / col("n_bigrams").cast("double"))
            .as("bigram_ttr"))
    }),

    // Nested ablation samples: ONE seeded hash, three thresholds — the
    // 10% corpus is a SUBSET of the 20%, which is a subset of the 50%
    // (threshold sampling's nesting property, the reproducibility
    // contract scaling-law ablations need; PropertiesSpec pins the law).
    "q159_nested_samples" -> ((s, dir) => {
      val h = pmod(Stable.seededHash(41, col("doc_id")), lit(1000L))
      t(s, dir, "documents").select(col("source"), h.as("__h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__h") < 100, 1L).otherwise(0L)).as("n_10pct"),
          sum(when(col("__h") < 200, 1L).otherwise(0L)).as("n_20pct"),
          sum(when(col("__h") < 500, 1L).otherwise(0L)).as("n_50pct"))
    }),

    // Class prototypes (nearest-class-mean components): per-label
    // ELEMENTWISE integer sums of the int8-quantized embeddings +
    // counts — the consumer divides at the edge; the engine never sums
    // a float, so every cell is exact (the q62 quantization story
    // applied to class statistics).
    "q160_prototypes" -> ((s, dir) => {
      val q = Ann.quantize(t(s, dir, "embeddings"), "vec_id", "embedding")
      val lab = t(s, dir, "embeddings").select(col("vec_id"),
        col("label").cast("bigint").as("label"))
      q.join(lab, Seq("vec_id"))
        .select(col("label"), posexplode(col("qvec")).as(Seq("dim", "qv")))
        .groupBy(col("label"), col("dim").cast("bigint").as("dim"))
        .agg(count(lit(1)).as("n"),
          sum(col("qv").cast("bigint")).as("q_sum"))
    }),

    // Contrastive triplet mining (anchor, positive, negative): q50's
    // verified near-dup pairs supply the positives; the negative is a
    // seeded-hash pick over the base corpus, corrected past the two
    // blocked ids (two corrections always suffice) — deterministic
    // training data for a contrastive embedding objective.
    "q156_triplets" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val clones = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        concat(array((col("embedding")(0) * lit(1.01)).cast("float")),
          slice(col("embedding"), 2, 63)).as("embedding"))
      val pairs = Ann.nearDupPairs(emb.unionByName(clones), "vec_id", "embedding",
          threshold = 0.99, planes = 12)
        .select(col("id1"), col("id2"))
      val n = emb.agg(count(lit(1)).as("__n"))
      pairs.crossJoin(broadcast(n))
        .withColumn("__h",
          pmod(Stable.seededHash(37, col("id1"), col("id2")), col("__n")))
        .withColumn("__h1",
          when(col("__h") === col("id1") || col("__h") === col("id2"),
            pmod(col("__h") + 1, col("__n"))).otherwise(col("__h")))
        .select(col("id1").as("anchor_id"), col("id2").as("pos_id"),
          when(col("__h1") === col("id1") || col("__h1") === col("id2"),
            pmod(col("__h1") + 1, col("__n"))).otherwise(col("__h1"))
            .as("neg_id"))
    }),

    // Leakage-SAFE grouped split (GroupKFold — the fix for what q119
    // audits): the split unit is the near-dup CLUSTER, not the
    // document, so no duplicate family ever straddles train/test.
    // q95's planted clone corpus → closure labels → seeded hash split
    // on the cluster id → per-split doc and cluster counts. The
    // PropertiesSpec law pins the invariant (one split per cluster).
    "q157_group_split" -> ((s, dir) => {
      val base = docsWithTokens(s, dir).select(col("doc_id"), col("ts"))
      val chains = base.filter(col("doc_id") % 29 === 3 && size(col("ts")) >= 64)
      val planted = (0 until 4).map { i =>
        chains.select((col("doc_id") * 10 + lit(1000000 + i)).as("doc_id"),
          slice(col("ts"), 1 + 8 * i, 40).as("ts"))
      }.reduce(_ union _)
      val corpus = base.union(planted)
      // persist: three consumers of the md5-heavy feature projection
      // (sig + both verify sides) — nearDeduped's persist rationale.
      val feat = graft.transform.Cache()(corpus
        .select(col("doc_id"), Dedup.minhashFeatures(col("ts")).as("mf"))
        .filter(col("mf").isNotNull))
      val pairs = Dedup.minhashPairs(feat, "doc_id", "mf").select("id1", "id2")
      val units = corpus.select("doc_id")
        .join(graft.dedup.Components.connectedComponents(pairs),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("__unit"))
      graft.sources.SplitSource.assignSplit(units, col("__unit"), seed = 31,
          weights = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("__unit")).as("n_clusters"))
    }),

    // Competence-paced curriculum ([[graft.text.Curation.curriculum]]):
    // the classic length curriculum per source — epoch 0 trains on the
    // shortest quarter of each source, the pool grows linearly to the
    // full corpus by epoch 3. Integer histogram cutoffs (the
    // Perplexity.buckets rule) + md5 mixing keys, so the whole schedule
    // replays bit-for-bit in SQL.
    "q194_curriculum" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("bigint").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      graft.text.Curation.curriculum(d, "source", "doc_id", "n_tokens",
        epochs = 4)
    }),

    // Curriculum -> per-epoch packing ([[TextOps.packSequencesGrouped]]
    // over [[graft.text.Curation.curriculum]]): the end-to-end training
    // artifact — each epoch's admitted pool packed into its OWN
    // fixed-length sequence stream (offsets and sequence numbers restart
    // per epoch), in the epoch's seeded mixing order. The grouped prefix
    // sum is the global two-phase scan minus each group's broadcast
    // start offset — no corpus-wide window anywhere.
    "q195_curriculum_pack" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("bigint").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val sched = graft.text.Curation
        .curriculum(d, "source", "doc_id", "n_tokens", epochs = 3)
        .join(d.select("doc_id", "n_tokens"), Seq("doc_id"))
      TextOps.packSequencesGrouped(
          sched.select("epoch", "doc_id", "n_tokens", "ord_key"),
          Seq("epoch"), "doc_id", "n_tokens", seqLen = 512,
          orderBy = Seq(col("ord_key")))
        .select("epoch", "doc_id", "n_tokens", "tok_offset",
          "first_seq", "last_seq")
    }),

    // Distinctive vocabulary per source ([[TextOps.distinctiveTerms]]):
    // each source's 3 most over-represented terms vs the rest of the
    // corpus (bit-quantized smoothed log-odds — Fightin' Words) — the
    // per-source profile card. All-integer scores, dense-rank tiebreak.
    "q152_distinctive_terms" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"),
        TextOps.tokens(col("text")).as("ts"))
      TextOps.distinctiveTerms(d, "source", "ts", k = 3)
    }),

    // KWIC concordance ([[TextOps.kwic]]): every occurrence of the
    // bigram "hash join" with 2 tokens of context — pure token-array
    // arithmetic, identical windows on both engines.
    "q153_kwic" -> ((s, dir) =>
      TextOps.kwic(docsWithTokens(s, dir), "doc_id", "ts",
        "hash", "join", ctx = 2)),

    // Sketch mergeability ([[graft.sketch.Sketch.hllRegistersByGroup]]
    // → [[graft.sketch.Sketch.hllMergeRegisters]]): per-source token
    // sketches merged register-wise into the global distinct-token
    // estimate — the oracle re-sketches the UNION directly and must
    // agree bit-for-bit, which is exactly the mergeability law that
    // lets shards sketch independently at 100 TB.
    "q151_sketch_merge" -> ((s, dir) => {
      val v = t(s, dir, "documents").select(col("source"),
        explode(TextOps.tokens(col("text"))).as("w"))
      graft.sketch.Sketch.hllMergeRegisters(
        graft.sketch.Sketch.hllRegistersByGroup(v, "source", "w", b = 8), b = 8)
    }),

    // Pseudo-relevance-feedback retrieval ([[TextOps
    // .bm25PseudoFeedback]]): q130's queries, each expanded with the 2
    // best terms mined from its own top-3 BM25 hits (corpus-idf-
    // weighted, original terms excluded), then re-searched — the
    // retrieve-expand-rerank loop, oracle-exact through BOTH stages.
    "q150_prf_search" -> ((s, dir) =>
      TextOps.bm25PseudoFeedback(docsWithTokens(s, dir), "doc_id", "ts",
        Seq(1L -> Seq("hash", "join", "table"),
          2L -> Seq("window", "stream", "batch"),
          3L -> Seq("spark", "nosuchterm")), k = 10, fbDocs = 3, fbTerms = 2)),

    // Unicode NFC audit ([[TextOps.nfc]]): per-source count of docs
    // whose text is not NFC-normal and the codepoint count the
    // normalization saves — the i18n pre-dedup health check (planted
    // combining marks on %31 docs; the base corpus is ASCII-clean).
    "q149_nfc_audit" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("source"),
        when(col("doc_id") % 31 === 4,
          // DECOMPOSED marks (e + U+0301, u + U+0308) — NFC composes them
          concat(col("text"), lit(" cafe\u0301 mu\u0308nchen")))
          .otherwise(col("text")).as("text"))
      planted.select(col("source"),
          (TextOps.nfc(col("text")) =!= col("text")).cast("bigint").as("__ch"),
          (length(col("text")) - length(TextOps.nfc(col("text"))))
            .cast("bigint").as("__d"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("__ch")).as("n_changed"),
          sum(col("__d")).as("sum_delta"))
    }),

    // PIVOT (wide reshape): per-source language mix as one row per
    // source with a literal column list (the bounded-cardinality
    // contract that keeps pivot scale-safe — an unlisted pivot makes
    // Spark collect the key domain first). Missing combos are 0.
    "q145_pivot" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("source")
        .pivot("lang", Seq("en", "fr", "es", "de", "zh")).count()
        .na.fill(0L)),

    // Per-group quantile card ([[TextOps.quantileCard]]): p50/p90/p99
    // of n_chars per source from ONE bounded histogram — the dataset-
    // card row, exact integers.
    "q147_quantile_card" -> ((s, dir) =>
      TextOps.quantileCard(t(s, dir, "documents"), "source", "n_chars",
        ps = Seq(50, 90, 99))),

    // k-anonymity audit (the privacy-governance card beside q108's PII
    // incidence): quasi-identifier combos — (lang, source, length
    // bucket) — whose population is below k=5; any row here is a
    // re-identification risk the release process must generalize or
    // suppress. One map-side-combined agg + post-agg filter.
    "q141_k_anonymity" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"), col("source"),
          expr("n_chars div 100").as("len_bucket"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") < 5)),

    // Changeset application ([[graft.operators.Snapshot.applyChanges]]
    // — q137's inverse): the same planted edits applied as an
    // upsert+delete changeset; the per-source count and ORDER-FREE
    // mod-sum content checksum certify the resulting corpus (hash64
    // summed mod-capped — an integer sum no row order can disturb).
    "q167_apply_changes" -> ((s, dir) => {
      val old = t(s, dir, "documents").select("doc_id", "text", "source")
      val upserts = old.filter(col("doc_id") % 17 === 5)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
          col("source"))
        .unionByName(old.filter(col("doc_id") % 17 === 7)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text"),
            col("source")))
      val deletes = old.filter(col("doc_id") % 17 === 3).select("doc_id")
      graft.operators.Snapshot.applyChanges(old, upserts, deletes, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(pmod(Stable.seededHash(3, col("doc_id"), col("text")),
            lit(1099511627776L))).as("checksum"))
    }),

    // Per-node triangle counts + clustering coefficient over the q131
    // link graph ([[graft.operators.Graphs.triangles]]): degree-
    // oriented wedge join, each triangle counted once, cc on an
    // integer ppm grid. The cliquishness signal next to PageRank's
    // centrality.
    "q169_triangles" -> ((s, dir) =>
      graft.operators.Graphs.triangles(syntheticLinkGraph(s, dir),
        "src", "dst")),

    // PMI collocations ([[TextOps.pmiCollocations]]): adjacent-bigram
    // association as the integer-ppm PMI ratio — one corpus explode,
    // unigrams and N derived from the bounded pair table.
    "q171_collocations" -> ((s, dir) =>
      TextOps.pmiCollocations(docsWithTokens(s, dir), "ts", minCount = 5)),

    // Per-source duplicate-rate card ([[Dedup.duplicateRateCard]]):
    // what exact dedup would remove, per source — a planted mirror
    // source (%31 clones) reads 100% duplicated, in-source twins
    // (%37) raise their own source's rate, cross-source copies count
    // on BOTH sides.
    "q185_dup_rate" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("text"))
      val planted = d
        .unionByName(d.filter(col("doc_id") % 31 === 4)
          .select((col("doc_id") + 7000000L).as("doc_id"),
            lit("mirror").as("source"), col("text")))
        .unionByName(d.filter(col("doc_id") % 37 === 2)
          .select((col("doc_id") + 8000000L).as("doc_id"), col("source"),
            col("text")))
      Dedup.duplicateRateCard(planted, "source", col("text"))
    }),

    // Per-source Gini card ([[TextOps.giniCard]]): document-length
    // concentration from the value histogram — the Lorenz summary of
    // the mixture, integer-exact with ties.
    "q176_gini" -> ((s, dir) =>
      TextOps.giniCard(t(s, dir, "documents"), "source", "n_chars")),

    // Pareto skyline ([[graft.operators.Skyline.skyline2D]]) over the
    // genuine curation trade-off (length vs vocabulary richness —
    // type-token ratio falls as documents grow, so the frontier is a
    // real curve): undominated docs via per-x argmax + range-
    // partitioned exclusive prefix max — never an unpartitioned
    // window, never a corpus sort.
    "q175_skyline" -> ((s, dir) =>
      graft.operators.Skyline.skyline2D(
        docsWithTokens(s, dir).filter(size(col("ts")) >= 1)
          .select(size(col("ts")).cast("bigint").as("n_tokens"),
            expr("(1000000 * CAST(size(array_distinct(ts)) AS BIGINT)) " +
              "div size(ts)").as("ttr_ppm")),
        "n_tokens", "ttr_ppm")),

    // Embedding Gram/covariance matrix ([[Ann.gramMatrix]]): the d×d
    // second-moment table on the micro-quantized grid — 2 080
    // upper-triangle pairs, long-exact sums, cov at the output edge.
    "q173_gram" -> ((s, dir) =>
      Ann.gramMatrix(t(s, dir, "embeddings"), "embedding", dim = 64)),

    // Incremental aggregate maintenance ([[graft.operators.Snapshot
    // .maintainAggregate]]): the q167 changeset plants applied to a
    // per-source (count, Σn_chars) rollup as a DELTA — the engine
    // maintains, the oracle re-aggregates the applied corpus from
    // scratch; hash-equality certifies ΔV = V(changes).
    "q172_delta_rollup" -> ((s, dir) => {
      val old = t(s, dir, "documents").select("doc_id", "source", "n_chars")
      val oldAgg = old.groupBy("source").agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("sum_val"))
      val upserts = old.filter(col("doc_id") % 17 === 5)
        .select(col("doc_id"), col("source"),
          (col("n_chars") + 3).as("n_chars"))
        .unionByName(old.filter(col("doc_id") % 17 === 7)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("source"),
            col("n_chars")))
      val deletes = old.filter(col("doc_id") % 17 === 3).select("doc_id")
      graft.operators.Snapshot.maintainAggregate(oldAgg, old, upserts,
        deletes, "doc_id", "source", "n_chars")
    }),

    // Snapshot churn audit ([[graft.operators.Snapshot.diffSummary]]):
    // one planted row per status class — doc_id%17=3 removed, %17=5
    // text-edited (changed), %17=7 re-added under a new id (added) —
    // per-source counts over the churn-bounded diff.
    "q137_snapshot_diff" -> ((s, dir) => {
      val old = t(s, dir, "documents").select("doc_id", "text", "source")
      val nw = old.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 5, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"),
          col("source"))
        .unionByName(old.filter(col("doc_id") % 17 === 7)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text"),
            col("source")))
      graft.operators.Snapshot.diffSummary(old, nw, "doc_id", "text", "source")
    }),

    // Robust per-source outlier card ([[TextOps.robustOutlierReport]]):
    // median/MAD of n_chars per source and the count of docs beyond
    // 1 MAD — the distribution-free QA signal a stddev-based z-score
    // gets wrong on heavy-tailed length distributions. All integer.
    "q132_outlier_report" -> ((s, dir) =>
      TextOps.robustOutlierReport(t(s, dir, "documents"),
        "source", "n_chars", madNum = 1, madDen = 1))
  )

  /** The q67/q68 plant: q59's PII tail + q66's boilerplate footer lines
    * + repetition spam (" buy now" repeated ~length/20+10 times on
    * doc_id % 13 — enough to dominate the doc's 2-gram mass at any doc
    * length). Integer `div` so the repeat count is bit-identical to the
    * oracle's `//`. */
  private def plantedPublished: Column = plantedPublishedWith(lit(""))

  /** q67's planted corpus with an extra text segment spliced into the
    * BODY (after the spam, before the PII tail) — q73 plants its shared
    * passage there. */
  private def plantedPublishedWith(extra: Column): Column =
    concat(col("text"),
      when(col("doc_id") % 13 === 0,
        expr("repeat(' buy now', CAST(length(text) div 20 + 10 AS INT))"))
        .otherwise(lit("")),
      extra,
      lit(" user"), col("doc_id").cast("string"), lit("@mail.example.com "),
      (col("doc_id") * 1000003L + 777777L).cast("string"),
      lit("\nall rights reserved"),
      when(col("doc_id") % 2 === 0, lit("\nsubscribe today"))
        .otherwise(lit("\nfollow us"))).as("text")

  /** q73's shared 25-token passage — long enough that its covering
    * 20-grams repeat across every planted doc, short enough that the
    * added Jaccard overlap (~23 shared shingles) keeps planted pairs
    * well under the 0.5 near-dup verify. Planted on doc_id % 17 == 1
    * EXCLUDING the % 41 eval slice: a quote inside the benchmark pool
    * would decontaminate every planted doc away before the span stage
    * could see it. */
  private val RefinedQuote =
    "the quick brown fox jumps over the lazy dog while the wise old owl " +
      "watches from the ancient oak tree near the quiet river bank"

  private def plantedRefined: Column =
    plantedPublishedWith(
      when(col("doc_id") % 17 === 1 && col("doc_id") % 41 =!= 0,
        lit(" " + RefinedQuote)).otherwise(lit("")))

  private val H = Stable.duckHash64 _

  /** Shared oracle fragment: cosine via sequential dot products — the
    * same formula and association as [[Ann.cosine]]. */
  /** Shared by q130 (live) and q139 (indexed): the index changes the
    * plan, not the answer — one oracle checks both. */
  private lazy val duckBm25Oracle: String =
    s"""WITH $DuckToks,
       |q(query_id, term) AS (VALUES (1, 'hash'), (1, 'join'), (1, 'table'),
       |  (2, 'window'), (2, 'stream'), (2, 'batch'),
       |  (3, 'spark'), (3, 'nosuchterm')),
       |sc AS (SELECT count(*) FILTER (WHERE len(ts) > 0) AS n,
       |       coalesce(sum(len(ts)), 0) AS t FROM toks),
       |tf AS (SELECT doc_id, dl, w AS term, count(*) AS tf
       |       FROM (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl,
       |             unnest(ts) AS w FROM toks)
       |       WHERE w IN (SELECT term FROM q)
       |       GROUP BY 1, 2, 3),
       |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scd AS (SELECT qq.query_id, t1.doc_id,
       |    (((length(bin(sc.n)) - 1) - (length(bin(d.df)) - 1))
       |      * 22 * t1.tf * (sc.t // sc.n) * 10000)
       |    // (10 * t1.tf * (sc.t // sc.n) + 3 * (sc.t // sc.n) + 9 * t1.dl) AS s
       |  FROM tf t1 JOIN dfx d USING (term) JOIN q qq USING (term), sc),
       |agg AS (SELECT query_id, doc_id, sum(s) AS s FROM scd GROUP BY 1, 2)
       |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rn AS BIGINT) AS rank,
       |  doc_id, CAST(s AS BIGINT) AS score_q
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY s DESC, doc_id ASC) AS rn
       |      FROM agg)
       |WHERE rn <= 10""".stripMargin

  /** One BM25 scoring stage over query CTE `$qcte`, CTEs suffixed
    * `$sfx`, ending at `r$sfx(query_id, doc_id, s, rn)`. */
  private def duckBm25Stage(qcte: String, sfx: String): String =
    s"""tf$sfx AS (SELECT doc_id, dl, w AS term, count(*) AS tf
       |       FROM (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl,
       |             unnest(ts) AS w FROM toks)
       |       WHERE w IN (SELECT term FROM $qcte)
       |       GROUP BY 1, 2, 3),
       |dfx$sfx AS (SELECT term, count(*) AS df FROM tf$sfx GROUP BY 1),
       |scd$sfx AS (SELECT qq.query_id, t1.doc_id,
       |    (((length(bin(sc.n)) - 1) - (length(bin(d.df)) - 1))
       |      * 22 * t1.tf * (sc.t // sc.n) * 10000)
       |    // (10 * t1.tf * (sc.t // sc.n) + 3 * (sc.t // sc.n) + 9 * t1.dl) AS s
       |  FROM tf$sfx t1 JOIN dfx$sfx d USING (term) JOIN $qcte qq USING (term), sc),
       |agg$sfx AS (SELECT query_id, doc_id, sum(s) AS s FROM scd$sfx GROUP BY 1, 2),
       |r$sfx AS (SELECT query_id, doc_id, s, row_number() OVER (PARTITION BY query_id
       |          ORDER BY s DESC, doc_id ASC) AS rn FROM agg$sfx)""".stripMargin

  /** q150: stage 1 → top-3 feedback docs → corpus-idf-weighted
    * expansion terms (originals anti-joined out, ties term-ASC) →
    * stage 2 over the expanded query union. */
  private def duckPrfOracle: String =
    s"""WITH $DuckToks,
       |q0(query_id, term) AS (VALUES (1, 'hash'), (1, 'join'), (1, 'table'),
       |  (2, 'window'), (2, 'stream'), (2, 'batch'),
       |  (3, 'spark'), (3, 'nosuchterm')),
       |sc AS (SELECT count(*) FILTER (WHERE len(ts) > 0) AS n,
       |       coalesce(sum(len(ts)), 0) AS t FROM toks),
       |${duckBm25Stage("q0", "1")},
       |fb AS (SELECT query_id, doc_id FROM r1 WHERE rn <= 3),
       |tffb AS (SELECT f.query_id, u.w AS term, count(*) AS tf
       |         FROM fb f JOIN (SELECT doc_id, unnest(ts) AS w FROM toks) u
       |           ON u.doc_id = f.doc_id GROUP BY 1, 2),
       |dfall AS (SELECT term, count(*) AS df FROM (
       |           SELECT DISTINCT doc_id, unnest(ts) AS term FROM toks)
       |          GROUP BY 1),
       |expo AS (SELECT tb.query_id, tb.term,
       |           tb.tf * ((length(bin(sc.n)) - 1) - (length(bin(d.df)) - 1)) AS s
       |         FROM tffb tb JOIN dfall d USING (term)
       |         CROSS JOIN sc
       |         LEFT JOIN q0 o ON o.query_id = tb.query_id AND o.term = tb.term
       |         WHERE o.term IS NULL),
       |expt AS (SELECT query_id, term FROM (
       |          SELECT query_id, term, row_number() OVER (PARTITION BY query_id
       |            ORDER BY s DESC, term ASC) AS rn FROM expo) WHERE rn <= 2),
       |qx AS (SELECT query_id, term FROM q0
       |       UNION SELECT query_id, term FROM expt),
       |${duckBm25Stage("qx", "2")}
       |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rn AS BIGINT) AS rank,
       |  doc_id, CAST(s AS BIGINT) AS score_q
       |FROM r2 WHERE rn <= 10""".stripMargin

  private def duckCosine(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** Sign-LSH bucket CTE body over a source CTE `e(vec_id, v)`: one SELECT
    * per table with the hyperplane sign bits packed into `bucket` — the SQL
    * twin of [[Ann.bucketKey]], shared by the q31 and q50 oracles. */
  private def duckBucketUnion(hp: Array[Array[Array[Double]]],
      from: String = "e"): String = {
    def bucketExpr(tp: Array[Array[Double]]): String =
      tp.zipWithIndex.map { case (plane, p) =>
        s"(CASE WHEN list_dot_product(v, ${plane.mkString("[", ",", "]")}) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
    hp.indices.map(t =>
      s"SELECT vec_id, v, $t AS tbl, ${bucketExpr(hp(t))} AS bucket FROM $from").mkString("\nUNION ALL ")
  }

  /** q31 oracle: the sign-LSH hyperplanes are seed-derived constants
    * ([[Ann.hyperplanes]](42, 6, 6, 64) — same params as the query), so
    * the oracle embeds them and rebuilds the buckets, candidate join, and
    * exact rerank entirely in SQL. */
  /** q105 oracle: q62's quantization CTEs, the reduced vector as 32
    * literal ±1 dot products (signMatrix constants inlined), candidate
    * rank ≤ 100 in reduced space, exact full-dimension rerank to 5.
    * Shared by q105 and the q106 recall report. */
  private def duckJlOracle: String = {
    val m = Ann.signMatrix(77, 32, 64)
    val rvExpr = m.map(row =>
      s"list_dot_product(qv, [${row.map(_.toString).mkString(", ")}])")
      .mkString("[\n  ", ",\n  ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |sc AS (SELECT vec_id, v,
       |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS qscale FROM e),
       |q AS (SELECT vec_id,
       |  CASE WHEN qscale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
       |       ELSE list_transform(v, x -> floor(x / qscale + 0.5)) END AS qv
       |  FROM sc),
       |rv AS (SELECT vec_id, $rvExpr AS r FROM q),
       |cscored AS (SELECT qry.vec_id AS query_id, corp.vec_id AS neighbor_id,
       |    ${duckCosine("qry.r", "corp.r")} AS sim
       |  FROM rv corp, (SELECT * FROM rv WHERE vec_id < 50) qry
       |  WHERE corp.vec_id <> qry.vec_id),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                ORDER BY sim DESC, neighbor_id ASC) AS rn
       |    FROM cscored)
       |  WHERE rn <= 100),
       |rescored AS (SELECT cand.query_id, cand.neighbor_id,
       |    ${duckCosine("qe.v", "ce.v")} AS sim
       |  FROM cand
       |  JOIN e qe ON qe.vec_id = cand.query_id
       |  JOIN e ce ON ce.vec_id = cand.neighbor_id)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                              ORDER BY sim DESC, neighbor_id ASC) AS rn
       |  FROM rescored)
       |WHERE rn <= 5""".stripMargin
  }

  private def duckLshOracle: String = {
    val buckets = duckBucketUnion(Ann.hyperplanes(42, tables = 6, planes = 6, dim = 64))
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |b AS ($buckets),
       |qb AS (SELECT * FROM b WHERE vec_id < 50),
       |cand AS (SELECT DISTINCT qb.vec_id AS query_id, b.vec_id AS neighbor_id,
       |                qb.v AS qv, b.v AS cv
       |         FROM b JOIN qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
       |                       AND b.vec_id <> qb.vec_id),
       |scored AS (SELECT query_id, neighbor_id, ${duckCosine("qv", "cv")} AS sim FROM cand)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                              ORDER BY sim DESC, neighbor_id ASC) AS rn
       |  FROM scored)
       |WHERE rn <= 5""".stripMargin
  }

  /** q50 oracle: plants the same 1%-perturbed clones with the same float
    * arithmetic, rebuilds the [[Ann.nearDupPairs]] LSH tables with the
    * call-site parameters (seed 42, 6 tables × 12 planes — `planes` is
    * overridden at the q50 call site), and applies the identical cosine
    * threshold — fully deterministic, so hash-exact like q31/q39. */
  /** The q50 pair chain (planted clones → sign-LSH buckets → cosine
    * verify) as CTEs ending at `p(id1, id2)` — shared with q156. */
  private def duckNearDupPairCtes: String = {
    val buckets = duckBucketUnion(Ann.hyperplanes(42, tables = 6, planes = 12, dim = 64))
    s"""u AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |         list_prepend(CAST(embedding[1] * 1.01 AS REAL), embedding[2:]) AS embedding
       |  FROM embeddings WHERE vec_id < 20),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM u),
       |b AS ($buckets),
       |cand AS (SELECT DISTINCT l.vec_id AS id1, r.vec_id AS id2, l.v AS v1, r.v AS v2
       |         FROM b l JOIN b r ON l.tbl = r.tbl AND l.bucket = r.bucket
       |                          AND l.vec_id < r.vec_id),
       |p AS (SELECT id1, id2 FROM cand
       |      WHERE ${duckCosine("v1", "v2")} >= 0.99)""".stripMargin
  }

  private def duckNearDupOracle: String =
    s"""WITH $duckNearDupPairCtes
       |SELECT id1, id2 FROM p""".stripMargin

  /** q156: q50's pairs + the twice-corrected seeded negative (two
    * corrections suffice — each moves past one of the two blocked
    * ids, wraparound included). */
  private def duckTripletsOracle: String =
    s"""WITH $duckNearDupPairCtes,
       |nn AS (SELECT count(*) AS n FROM embeddings),
       |t0 AS (SELECT id1, id2, ${Stable.duckSeededHash(37, "id1", "id2")} % nn.n AS h
       |       FROM p, nn),
       |t1 AS (SELECT t0.id1, t0.id2,
       |         CASE WHEN h = id1 OR h = id2 THEN (h + 1) % nn.n ELSE h END AS h
       |       FROM t0, nn)
       |SELECT t1.id1 AS anchor_id, t1.id2 AS pos_id,
       |  CAST(CASE WHEN h = t1.id1 OR h = t1.id2 THEN (h + 1) % nn.n
       |       ELSE h END AS BIGINT) AS neg_id
       |FROM t1, nn""".stripMargin

  /** q55 oracle: plants q50's clones, rebuilds [[Ann.sampleCentroids]]
    * (seeded id-hash, smallest 16) and the nearest-centroid assignment
    * (q39's rn=1 pattern — same sim formula, same (sim DESC, cid ASC)
    * tie-break as the argsort), then the within-cluster pair join and
    * cosine verify — fully deterministic. */
  private def duckSemanticDedupOracle: String =
    s"""WITH u AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |         list_prepend(CAST(embedding[1] * 1.01 AS REAL), embedding[2:]) AS embedding
       |  FROM embeddings WHERE vec_id < 20),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM u),
       |h AS (SELECT vec_id, v, ${Stable.duckSeededHash(42, "vec_id")} AS hh FROM e),
       |cent AS (SELECT v AS cv, row_number() OVER (ORDER BY hh) - 1 AS cid
       |         FROM (SELECT * FROM h ORDER BY hh LIMIT 16)),
       |sims AS (SELECT e.vec_id, e.v, c.cid, ${duckCosine("e.v", "c.cv")} AS sim
       |         FROM e, cent c),
       |assigned AS (SELECT vec_id, v, cid FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY sim DESC, cid ASC) AS rn FROM sims)
       |  WHERE rn = 1)
       |SELECT CAST(a.cid AS BIGINT) AS cid, a.vec_id AS id1, b.vec_id AS id2
       |FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |WHERE ${duckCosine("a.v", "b.v")} >= 0.99""".stripMargin

  /** Shared curation-chain CTE body (gate → exact dedup → MinHash/LSH
    * near-dup), assuming a `toks(doc_id, ts)` CTE is in scope:
    * lscores…best (the q23 langid argmax), `gated` (en + >= 30 tokens),
    * exact-dedup key over `textSrc`(doc_id, text), shingle/minhash/band
    * CTEs, ending at `final` = near-dup survivors. Per-doc signatures
    * are independent of the doc set, so the shingle CTEs run over all
    * docs and the pair search restricts to the exact-dedup survivors —
    * identical pairs to the Spark side's post-filter shingling. */
  private def duckCurationBody(textSrc: String, gateExtra: String = ""): String = {
    val mins = (0 until 8).map(j => s"min(${Stable.duckFamilyHash("sh", j)}) AS m$j").mkString(", ")
    val bands = (0 until 4).map { bnd =>
      s"SELECT doc_id, $bnd AS b, ${H(s"concat_ws(',', '$bnd', CAST(m${2 * bnd} AS VARCHAR), CAST(m${2 * bnd + 1} AS VARCHAR))")} AS bk FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""lscores AS (
       |  SELECT doc_id,
       |    len(list_filter(ts, t -> t IN ('der','die','das','und','ist'))) AS s_de,
       |    len(list_filter(ts, t -> t IN ('the','a','of','and','to'))) AS s_en,
       |    len(list_filter(ts, t -> t IN ('el','la','de','y','que'))) AS s_es,
       |    len(list_filter(ts, t -> t IN ('le','la','de','et','un'))) AS s_fr,
       |    len(list_filter(ts, t -> t IN ('de','le','shi','bu','wo'))) AS s_zh
       |  FROM toks),
       |lu AS (
       |  SELECT doc_id, 'de' AS lang, s_de AS score FROM lscores
       |  UNION ALL SELECT doc_id, 'en', s_en FROM lscores
       |  UNION ALL SELECT doc_id, 'es', s_es FROM lscores
       |  UNION ALL SELECT doc_id, 'fr', s_fr FROM lscores
       |  UNION ALL SELECT doc_id, 'zh', s_zh FROM lscores),
       |best AS (SELECT doc_id, lang AS lang_pred FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                              ORDER BY score DESC, lang ASC) AS rn FROM lu)
       |  WHERE rn = 1),
       |gated0 AS (
       |  SELECT t.doc_id FROM toks t JOIN best b USING (doc_id)
       |  WHERE b.lang_pred = 'en' AND len(t.ts) >= 30),
       |gated AS (SELECT g.doc_id FROM gated0 g $gateExtra),
       |keyd AS (
       |  SELECT d.doc_id, md5(substr(d.text, 1, 40)) AS kh
       |  FROM $textSrc d JOIN gated USING (doc_id)),
       |keep1 AS (SELECT min(doc_id) AS doc_id FROM keyd GROUP BY kh),
       |${duckShingleHashes()},
       |shk AS (SELECT sh.doc_id, sh.sh FROM sh JOIN keep1 USING (doc_id)),
       |shsets AS (SELECT doc_id, list_distinct(list(sh)) AS s FROM shk GROUP BY doc_id),
       |mh AS (SELECT doc_id, $mins FROM (SELECT doc_id, sh FROM shk) GROUP BY doc_id),
       |bands AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
       |  FROM bands a JOIN bands c ON a.b = c.b AND a.bk = c.bk AND a.doc_id < c.doc_id),
       |drop2 AS (
       |  SELECT DISTINCT id2 AS doc_id
       |  FROM cand JOIN shsets x ON x.doc_id = id1 JOIN shsets y ON y.doc_id = id2
       |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE) >= 0.5),
       |final AS (SELECT k.doc_id FROM keep1 k ANTI JOIN drop2 d ON k.doc_id = d.doc_id)""".stripMargin
  }

  /** Shared pack tail over a survivor-id CTE `src(doc_id)`: mirrors
    * q43's windowed sum with the BIGINT casts at the edge (DuckDB
    * windowed sum is HUGEINT). */
  private def duckPackTail(src: String): String =
    s"""d2 AS (SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens
       |       FROM toks t JOIN $src USING (doc_id)),
       |o AS (SELECT doc_id, n_tokens,
       |        sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       |          - n_tokens AS tok_offset
       |      FROM d2)
       |SELECT doc_id, n_tokens, CAST(tok_offset AS BIGINT) AS tok_offset,
       |  CAST(tok_offset // 512 AS BIGINT) AS first_seq,
       |  CAST(CASE WHEN n_tokens > 0 THEN (tok_offset + n_tokens - 1) // 512
       |       ELSE tok_offset // 512 END AS BIGINT) AS last_seq
       |FROM o""".stripMargin

  /** q51 oracle: the whole curation chain in SQL. */
  private def duckCurationOracle: String =
    s"""WITH $DuckToks,
       |${duckCurationBody("documents")},
       |${duckPackTail("final")}""".stripMargin

  /** q59 oracle: the COMPLETE chain — q58's planted PII + redaction,
    * q46's normalization, q51's gate/dedup body over the SCRUBBED text,
    * q57's decontamination against the doc_id % 41 eval slice (benchmark
    * ⊆ corpus with identical scrubbing, so its pooled shingles come from
    * the same `sh` CTE), then the pack tail over the clean survivors.
    * Every stage is bit-reproduced, so hash-exact like q51. */
  private def duckFullCurationOracle: String = {
    val aug = "text || ' user' || CAST(doc_id AS VARCHAR) || " +
      "'@mail.example.com ' || CAST(doc_id * 1000003 + 777777 AS VARCHAR)"
    val red = s"regexp_replace(regexp_replace($aug, " +
      """'[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'), """ +
      "'[0-9]{6,}', '<num>', 'g')"
    val norm = s"trim(regexp_replace(regexp_replace(lower($red), " +
      "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    s"""WITH scrub AS (SELECT doc_id, $norm AS text FROM documents),
       |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM scrub),
       |${duckCurationBody("scrub")},
       |bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 41 = 0),
       |contam AS (SELECT s.doc_id FROM sh s JOIN bsh USING (sh)
       |           GROUP BY s.doc_id HAVING count(DISTINCT s.sh) >= 2),
       |clean AS (SELECT f.doc_id FROM final f ANTI JOIN contam c ON f.doc_id = c.doc_id),
       |${duckPackTail("clean")}""".stripMargin
  }

  /** q61 oracle: q59's CTE chain (scrub → gate → exact → near-dup →
    * decontaminate), finished with one count/sum per stage boundary
    * instead of the pack tail. Token counts ride the shared scrubbed
    * `toks` CTE on both engines, so hash-exact. */
  private def duckReportOracle: String = {
    val aug = "text || ' user' || CAST(doc_id AS VARCHAR) || " +
      "'@mail.example.com ' || CAST(doc_id * 1000003 + 777777 AS VARCHAR)"
    val red = s"regexp_replace(regexp_replace($aug, " +
      """'[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'), """ +
      "'[0-9]{6,}', '<num>', 'g')"
    val norm = s"trim(regexp_replace(regexp_replace(lower($red), " +
      "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    def stat(name: String, src: String): String =
      s"""SELECT '$name' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(len(t.ts)), 0) AS BIGINT) AS n_tokens
         |FROM toks t $src""".stripMargin
    s"""WITH scrub AS (SELECT doc_id, $norm AS text FROM documents),
       |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM scrub),
       |${duckCurationBody("scrub")},
       |bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 41 = 0),
       |contam AS (SELECT s.doc_id FROM sh s JOIN bsh USING (sh)
       |           GROUP BY s.doc_id HAVING count(DISTINCT s.sh) >= 2),
       |clean AS (SELECT f.doc_id FROM final f ANTI JOIN contam c ON f.doc_id = c.doc_id)
       |${stat("0_scrubbed", "")}
       |UNION ALL ${stat("1_gated", "JOIN gated USING (doc_id)")}
       |UNION ALL ${stat("2_exact_dedup", "JOIN keep1 USING (doc_id)")}
       |UNION ALL ${stat("3_near_dedup", "JOIN final USING (doc_id)")}
       |UNION ALL ${stat("4_decontaminated", "JOIN clean USING (doc_id)")}""".stripMargin
  }

  /** Shared RE2/Java-regex fragments for the scrub stages (the q58/q46
    * strings, applied to a column named `text`). */
  private val duckRedact = "regexp_replace(regexp_replace(text, " +
    """'[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'), """ +
    "'[0-9]{6,}', '<num>', 'g')"
  private val duckNorm = "trim(regexp_replace(regexp_replace(lower(text), " +
    "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Shared q67/q68 oracle prefix: the three plants (repetition spam on
    * doc_id % 13, q59's PII tail, q66's boilerplate footer lines),
    * redaction, CCNet LINE-level dedup BEFORE normalization (the
    * [[graft.text.Curation.scrubLines]] order — normalization collapses
    * the newlines the line scrub keys on), normalization, tokens, and
    * the q65 repetition fractions the Gopher gate joins. Ends at
    * `rep(doc_id, top2, dup3)`; `red` (redacted, line-structured) is
    * what the benchmark side re-scrubs from. */
  private def duckPublishedPrefix: String = duckPublishedPrefixWith("")

  /** [[duckPublishedPrefix]] with [[plantedPublishedWith]]'s extra-text
    * hook: `extraSql` is a SQL string expression appended after the spam
    * segment (pass `''`-safe fragments like `CASE ... END`). */
  private def duckPublishedPrefixWith(extraSql: String): String = {
    val extra = if (extraSql.isEmpty) "" else s" || $extraSql"
    s"""raw AS (SELECT doc_id,
       |  text || CASE WHEN doc_id % 13 = 0
       |    THEN repeat(' buy now', CAST(length(text) // 20 + 10 AS INT)) ELSE '' END$extra ||
       |  ' user' || CAST(doc_id AS VARCHAR) || '@mail.example.com ' ||
       |  CAST(doc_id * 1000003 + 777777 AS VARCHAR) ||
       |  chr(10) || 'all rights reserved' ||
       |  CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'subscribe today'
       |       ELSE chr(10) || 'follow us' END AS text
       |  FROM documents),
       |red AS (SELECT doc_id, $duckRedact AS text FROM raw),
       |lsp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM red),
       |lrows AS (SELECT doc_id, i - 1 AS li, ls[i] AS ln
       |  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM lsp)),
       |lcnt AS (SELECT ln, count(*) AS n FROM lrows GROUP BY ln),
       |lkept AS (SELECT doc_id, li, l.ln FROM lrows l JOIN lcnt USING (ln) WHERE n <= 1),
       |lded AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY li) AS text
       |         FROM lkept GROUP BY doc_id),
       |scrub AS (SELECT doc_id, $duckNorm AS text FROM lded),
       |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM scrub),
       |rg2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
       |  i -> ts[i] || ' ' || ts[i + 1])) AS g FROM toks WHERE len(ts) >= 2),
       |rc2 AS (SELECT doc_id, ${H("g")} AS gh, count(*) AS c FROM rg2 GROUP BY 1, 2),
       |rf2 AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top2
       |        FROM rc2 GROUP BY doc_id),
       |rg3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 2),
       |  i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS g FROM toks WHERE len(ts) >= 3),
       |rc3 AS (SELECT doc_id, ${H("g")} AS gh, count(*) AS c FROM rg3 GROUP BY 1, 2),
       |rf3 AS (SELECT doc_id, CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) /
       |  CAST(sum(c) AS DOUBLE) AS dup3 FROM rc3 GROUP BY doc_id),
       |rep AS (SELECT rf2.doc_id, top2, dup3 FROM rf2 JOIN rf3 USING (doc_id))""".stripMargin
  }

  /** q79/q80 oracle core: the CCNet chain in SQL — the q67 prefix
    * (plants, line dedup before normalization, tokens), q23's
    * stopword-argmax language scores, the q75 LM CTEs trained on the
    * separately-scrubbed doc_id % 7 < 2 reference slice, and q76's
    * histogram terciles per predicted language. Ends at
    * `bkt(doc_id, lang_pred, n_tokens, bucket)` — every tagged doc has
    * >= 29 bigrams, so bucket 0 is unreachable. q79 packs the
    * head+middle survivors; q80 is the per-(language, bucket) report. */
  private def duckCCNetCore: String =
    s"""$duckPublishedPrefix,
       |lsc AS (
       |  SELECT doc_id,
       |    len(list_filter(ts, t -> t IN ('der','die','das','und','ist'))) AS s_de,
       |    len(list_filter(ts, t -> t IN ('the','a','of','and','to'))) AS s_en,
       |    len(list_filter(ts, t -> t IN ('el','la','de','y','que'))) AS s_es,
       |    len(list_filter(ts, t -> t IN ('le','la','de','et','un'))) AS s_fr,
       |    len(list_filter(ts, t -> t IN ('de','le','shi','bu','wo'))) AS s_zh
       |  FROM toks),
       |lu AS (
       |  SELECT doc_id, 'de' AS lang, s_de AS score FROM lsc
       |  UNION ALL SELECT doc_id, 'en', s_en FROM lsc
       |  UNION ALL SELECT doc_id, 'es', s_es FROM lsc
       |  UNION ALL SELECT doc_id, 'fr', s_fr FROM lsc
       |  UNION ALL SELECT doc_id, 'zh', s_zh FROM lsc),
       |lang AS (SELECT doc_id, lang AS lang_pred FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |                                ORDER BY score DESC, lang ASC) AS rn FROM lu)
       |  WHERE rn = 1),
       |tag AS (SELECT t.doc_id, l.lang_pred, CAST(len(t.ts) AS BIGINT) AS n_tokens
       |        FROM toks t JOIN lang l USING (doc_id) WHERE len(t.ts) >= 30),
       |rred AS (SELECT doc_id, $duckRedact AS text FROM documents WHERE doc_id % 7 < 2),
       |rscrub AS (SELECT doc_id, $duckNorm AS text FROM rred),
       |rtoks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM rscrub),
       |rbigr AS (
       |  SELECT ${H("w1")} AS h1, ${H("w2")} AS h2 FROM (
       |    SELECT ts[i] AS w1, ts[i+1] AS w2 FROM (
       |      SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
       |      FROM rtoks WHERE len(ts) >= 2))),
       |c12 AS (SELECT h1, h2, count(*) AS c12 FROM rbigr GROUP BY h1, h2),
       |c1 AS (SELECT h1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY h1),
       |cbigr AS (
       |  SELECT doc_id, ${H("w1")} AS h1, ${H("w2")} AS h2 FROM (
       |    SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2 FROM (
       |      SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
       |      FROM toks WHERE len(ts) >= 30))),
       |sc AS (
       |  SELECT b.doc_id,
       |    CASE WHEN m.c12 IS NOT NULL
       |           THEN (length(bin(u.c1)) - 1) - (length(bin(m.c12)) - 1)
       |         WHEN u.c1 IS NOT NULL THEN length(bin(u.c1))
       |         ELSE 20 END AS bits
       |  FROM cbigr b
       |  LEFT JOIN c12 m ON m.h1 = b.h1 AND m.h2 = b.h2
       |  LEFT JOIN c1 u ON u.h1 = b.h1),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(bits) AS total_bits
       |        FROM sc GROUP BY doc_id),
       |pq AS (SELECT g.doc_id, g.lang_pred, g.n_tokens,
       |         (CAST(a.total_bits AS BIGINT) * 10)
       |           // CAST(a.n_bigrams AS BIGINT) AS score_q
       |       FROM tag g JOIN agg a USING (doc_id)),
       |hist AS (SELECT lang_pred, score_q, count(*) AS c FROM pq
       |         GROUP BY lang_pred, score_q),
       |cum AS (SELECT lang_pred, score_q,
       |          sum(c) OVER (PARTITION BY lang_pred ORDER BY score_q) AS cm,
       |          sum(c) OVER (PARTITION BY lang_pred) AS n
       |        FROM hist),
       |cuts AS (SELECT lang_pred,
       |           min(CASE WHEN cm * 3 >= n THEN score_q END) AS cut1,
       |           min(CASE WHEN cm * 3 >= 2 * n THEN score_q END) AS cut2
       |         FROM cum GROUP BY lang_pred),
       |bkt AS (SELECT p.doc_id, p.lang_pred, p.n_tokens,
       |          1 + CAST(p.score_q > k.cut1 AS INT)
       |            + CAST(p.score_q > k.cut2 AS INT) AS bucket
       |        FROM pq p JOIN cuts k USING (lang_pred))""".stripMargin

  private def duckCCNetOracle: String =
    s"""WITH $duckCCNetCore,
       |kept AS (SELECT doc_id, n_tokens FROM bkt WHERE bucket < 3),
       |${duckPackTailCounts("kept")}""".stripMargin

  /** q80 oracle: the CCNet per-(language, bucket) corpus table over the
    * shared core. */
  private def duckCCNetReportOracle: String =
    s"""WITH $duckCCNetCore
       |SELECT lang_pred, CAST(bucket AS INT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens
       |FROM bkt GROUP BY lang_pred, bucket""".stripMargin

  /** q83 oracle: q75's LM CTEs (no plants), the deci-bit score with -1
    * for unscored docs, and the pack tail's running-sum window over the
    * curriculum order (score_q, doc_id). */
  private def duckCurriculumPackOracle: String =
    s"""WITH $DuckToks,
       |bigr AS (
       |  SELECT doc_id, ${H("w1")} AS h1, ${H("w2")} AS h2 FROM (
       |    SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2 FROM (
       |      SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
       |      FROM toks WHERE len(ts) >= 2))),
       |c12 AS (SELECT h1, h2, count(*) AS c12 FROM bigr
       |        WHERE doc_id % 5 < 2 GROUP BY h1, h2),
       |c1 AS (SELECT h1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY h1),
       |sc AS (
       |  SELECT b.doc_id,
       |    CASE WHEN m.c12 IS NOT NULL
       |           THEN (length(bin(u.c1)) - 1) - (length(bin(m.c12)) - 1)
       |         WHEN u.c1 IS NOT NULL THEN length(bin(u.c1))
       |         ELSE 20 END AS bits
       |  FROM bigr b
       |  LEFT JOIN c12 m ON m.h1 = b.h1 AND m.h2 = b.h2
       |  LEFT JOIN c1 u ON u.h1 = b.h1),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(bits) AS total_bits
       |        FROM sc GROUP BY doc_id),
       |q AS (
       |  SELECT t.doc_id,
       |    CASE WHEN coalesce(a.n_bigrams, 0) > 0
       |         THEN (CAST(a.total_bits AS BIGINT) * 10)
       |                // CAST(a.n_bigrams AS BIGINT)
       |         ELSE -1 END AS score_q,
       |    CAST(len(t.ts) AS BIGINT) AS n_tokens
       |  FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id),
       |o AS (SELECT doc_id, score_q, n_tokens,
       |        sum(n_tokens) OVER (ORDER BY score_q, doc_id
       |                            ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_offset
       |      FROM q)
       |SELECT doc_id, CAST(score_q AS BIGINT) AS score_q, n_tokens,
       |  CAST(tok_offset AS BIGINT) AS tok_offset,
       |  CAST(tok_offset // 512 AS BIGINT) AS first_seq,
       |  CAST(CASE WHEN n_tokens > 0 THEN (tok_offset + n_tokens - 1) // 512
       |       ELSE tok_offset // 512 END AS BIGINT) AS last_seq
       |FROM o""".stripMargin

  /** q84 oracle: DSIR in SQL — the hashed unigram+bigram bucket stream,
    * both bucket-count models, the integer-quantized λ table over all
    * 4096 buckets (add-one smoothing + the folded total-bits constant),
    * the doc-keyed importance sum, and the deterministic top-150 by
    * (lw DESC, seeded hash, doc_id). */
  private def duckDsirOracle: String =
    s"""WITH dd AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts
       |  FROM documents),
       |gr AS (
       |  SELECT doc_id, source, ${H("g")} % 4096 AS b FROM (
       |    SELECT doc_id, source, unnest(ts) AS g FROM dd
       |    UNION ALL
       |    SELECT doc_id, source, ts[i] || ' ' || ts[i+1] AS g FROM (
       |      SELECT doc_id, source, ts,
       |        unnest(generate_series(1, len(ts) - 1)) AS i
       |      FROM dd WHERE len(ts) >= 2))),
       |tm AS (SELECT b, count(*) AS c FROM gr WHERE source = 'src3' GROUP BY b),
       |rm AS (SELECT b, count(*) AS c FROM gr WHERE source <> 'src3' GROUP BY b),
       |tt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM tm),
       |rt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM rm),
       |lam AS (
       |  SELECT r.range AS b,
       |    (length(bin(CAST(coalesce(t.c, 0) + 1 AS BIGINT))) - 1)
       |      - (length(bin(CAST(coalesce(m.c, 0) + 1 AS BIGINT))) - 1)
       |      + (length(bin(rt.n)) - 1) - (length(bin(tt.n)) - 1) AS lam
       |  FROM range(4096) r
       |  LEFT JOIN tm t ON t.b = r.range
       |  LEFT JOIN rm m ON m.b = r.range
       |  CROSS JOIN tt CROSS JOIN rt),
       |sc AS (
       |  SELECT g.doc_id, count(*) AS n_grams, sum(l.lam) AS lw
       |  FROM gr g JOIN lam l ON l.b = g.b
       |  WHERE g.source <> 'src3' GROUP BY g.doc_id)
       |SELECT a.doc_id, CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(s.lw, 0) AS BIGINT) AS lw
       |FROM (SELECT doc_id FROM dd WHERE source <> 'src3') a
       |LEFT JOIN sc s ON s.doc_id = a.doc_id
       |ORDER BY lw DESC, ${Stable.duckSeededHash(7L, "a.doc_id")}, a.doc_id
       |LIMIT 150""".stripMargin

  /** q86 oracle: the FineWeb chain in SQL — the plants, the blocklist,
    * q23's language argmax + token floor over RAW (un-normalized)
    * tokens, q65's repetition fractions, exact dedup keyed on
    * (snapshot, 40-char prefix), the q85 source-keyed band join for the
    * per-snapshot near stage, and redaction applied LAST to the
    * surviving raw text (n_tokens counts the post-redaction tokens). */
  private def duckFineWebOracle: String = {
    val mins = (0 until 8).map(j =>
      s"min(${Stable.duckFamilyHash("sh", j)}) AS m$j").mkString(", ")
    val bands = (0 until 4).map { bnd =>
      s"SELECT doc_id, $bnd AS b, ${H(s"concat_ws(',', '$bnd', CAST(m${2 * bnd} AS VARCHAR), CAST(m${2 * bnd + 1} AS VARCHAR))")} AS bk FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""WITH aug AS (
       |  SELECT doc_id, source,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |    '@mail.example.com ref ' ||
       |    CAST(doc_id * 1000003 + 777777 AS VARCHAR) AS text
       |  FROM documents),
       |u AS (
       |  SELECT * FROM aug
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, 'xshift' AS source, text
       |  FROM aug WHERE doc_id < 10
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, source,
       |    'zqq' || CAST(doc_id AS VARCHAR) || ' ' || text AS text
       |  FROM aug WHERE doc_id % 7 = 3),
       |adm AS (SELECT * FROM u WHERE source <> 'src5'),
       |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM adm),
       |lscores AS (
       |  SELECT doc_id,
       |    len(list_filter(ts, t -> t IN ('der','die','das','und','ist'))) AS s_de,
       |    len(list_filter(ts, t -> t IN ('the','a','of','and','to'))) AS s_en,
       |    len(list_filter(ts, t -> t IN ('el','la','de','y','que'))) AS s_es,
       |    len(list_filter(ts, t -> t IN ('le','la','de','et','un'))) AS s_fr,
       |    len(list_filter(ts, t -> t IN ('de','le','shi','bu','wo'))) AS s_zh
       |  FROM toks),
       |lu AS (
       |  SELECT doc_id, 'de' AS lang, s_de AS score FROM lscores
       |  UNION ALL SELECT doc_id, 'en', s_en FROM lscores
       |  UNION ALL SELECT doc_id, 'es', s_es FROM lscores
       |  UNION ALL SELECT doc_id, 'fr', s_fr FROM lscores
       |  UNION ALL SELECT doc_id, 'zh', s_zh FROM lscores),
       |best AS (SELECT doc_id, lang AS lang_pred FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                              ORDER BY score DESC, lang ASC) AS rn FROM lu)
       |  WHERE rn = 1),
       |gated0 AS (
       |  SELECT t.doc_id FROM toks t JOIN best b USING (doc_id)
       |  WHERE b.lang_pred = 'en' AND len(t.ts) >= 30),
       |rg2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
       |  i -> ts[i] || ' ' || ts[i + 1])) AS g FROM toks WHERE len(ts) >= 2),
       |rc2 AS (SELECT doc_id, ${H("g")} AS gh, count(*) AS c FROM rg2 GROUP BY 1, 2),
       |rf2 AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top2
       |        FROM rc2 GROUP BY doc_id),
       |rg3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 2),
       |  i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS g FROM toks WHERE len(ts) >= 3),
       |rc3 AS (SELECT doc_id, ${H("g")} AS gh, count(*) AS c FROM rg3 GROUP BY 1, 2),
       |rf3 AS (SELECT doc_id, CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) /
       |  CAST(sum(c) AS DOUBLE) AS dup3 FROM rc3 GROUP BY doc_id),
       |gated AS (
       |  SELECT g.doc_id FROM gated0 g
       |  JOIN rf2 USING (doc_id) JOIN rf3 USING (doc_id)
       |  WHERE top2 <= 0.15 AND dup3 <= 0.15),
       |keep1 AS (
       |  SELECT min(a.doc_id) AS doc_id FROM adm a JOIN gated USING (doc_id)
       |  GROUP BY a.source, substr(a.text, 1, 40)),
       |${duckShingleHashes()},
       |shk AS (SELECT sh.doc_id, sh.sh FROM sh JOIN keep1 USING (doc_id)),
       |shsets AS (SELECT doc_id, list_distinct(list(sh)) AS s FROM shk GROUP BY doc_id),
       |mh AS (SELECT doc_id, $mins FROM (SELECT doc_id, sh FROM shk) GROUP BY doc_id),
       |bands AS (
       |  $bands),
       |srcs AS (SELECT doc_id, source FROM adm),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
       |  FROM bands a JOIN bands c ON a.b = c.b AND a.bk = c.bk
       |                           AND a.doc_id < c.doc_id
       |  JOIN srcs s1 ON s1.doc_id = a.doc_id
       |  JOIN srcs s2 ON s2.doc_id = c.doc_id AND s2.source = s1.source),
       |drop2 AS (
       |  SELECT DISTINCT id2 AS doc_id
       |  FROM cand JOIN shsets x ON x.doc_id = id1 JOIN shsets y ON y.doc_id = id2
       |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE) >= 0.5),
       |fin AS (SELECT k.doc_id FROM keep1 k ANTI JOIN drop2 d ON k.doc_id = d.doc_id)
       |SELECT doc_id, source, clean,
       |  CAST(len(list_filter(string_split(clean, ' '), t -> len(t) > 0)) AS BIGINT) AS n_tokens
       |FROM (SELECT f.doc_id, a.source, $duckRedact AS clean
       |      FROM fin f JOIN adm a USING (doc_id))""".stripMargin
  }

  /** q85 oracle: q28's minhash/band/verify SQL over the planted union,
    * with the band self-join additionally keyed on the doc's source —
    * the grouped-dedup semantics (cross-shard collisions never pair). */
  private def duckShardedDedupOracle: String = {
    val mins = (0 until 8).map(j =>
      s"min(${Stable.duckFamilyHash("sh", j)}) AS m$j").mkString(", ")
    val bands = (0 until 4).map { bnd =>
      s"SELECT doc_id, $bnd AS b, ${H(s"concat_ws(',', '$bnd', CAST(m${2 * bnd} AS VARCHAR), CAST(m${2 * bnd + 1} AS VARCHAR))")} AS bk FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""WITH u AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, 'xshift' AS source, text
       |  FROM documents WHERE doc_id < 10
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, source, text
       |  FROM documents WHERE doc_id % 7 = 3),
       |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM u),
       |srcs AS (SELECT doc_id, source FROM u),
       |${duckShingleHashes()},
       |shsets AS (SELECT doc_id, list_distinct(list(sh)) AS s FROM sh GROUP BY doc_id),
       |mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT s1.source, a.doc_id AS id1, c.doc_id AS id2
       |  FROM bands a JOIN bands c ON a.b = c.b AND a.bk = c.bk
       |                           AND a.doc_id < c.doc_id
       |  JOIN srcs s1 ON s1.doc_id = a.doc_id
       |  JOIN srcs s2 ON s2.doc_id = c.doc_id AND s2.source = s1.source)
       |SELECT source, id1, id2,
       |  CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE) AS jaccard
       |FROM cand JOIN shsets x ON x.doc_id = id1 JOIN shsets y ON y.doc_id = id2
       |WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE) >= 0.5""".stripMargin
  }

  /** q82 oracle: embedding admission in SQL — rebuild the batch plants,
    * q62's quantization (ints via CAST so the md5 key string matches the
    * byte-cast Spark form), the three drop stages (exact-within min id
    * per xkey, exact-cross xkey anti-join, sign-LSH bucketed near pass
    * against store ∪ lower-id batch survivors with the exact integer-dot
    * cosine verify). The hyperplanes are the same seed-derived constants
    * as the query. */
  private def duckEmbeddingAdmitOracle: String = {
    val buckets = duckBucketUnion(Ann.hyperplanes(42, tables = 6, planes = 8, dim = 64))
    s"""WITH au AS (
       |  SELECT vec_id, embedding, TRUE AS is_batch FROM embeddings WHERE vec_id % 2 = 1
       |  UNION ALL SELECT vec_id + 1000000, embedding, TRUE FROM embeddings
       |    WHERE vec_id % 2 = 1 AND vec_id < 50
       |  UNION ALL SELECT vec_id + 2000001, embedding, TRUE FROM embeddings
       |    WHERE vec_id % 2 = 0 AND vec_id < 40
       |  UNION ALL SELECT vec_id + 3000000,
       |    list_prepend(CAST(embedding[1] * 1.01 AS REAL), embedding[2:]), TRUE
       |    FROM embeddings WHERE vec_id % 2 = 0 AND vec_id >= 40 AND vec_id < 80
       |  UNION ALL SELECT vec_id, embedding, FALSE FROM embeddings WHERE vec_id % 2 = 0),
       |ad AS (SELECT vec_id, is_batch, CAST(embedding AS DOUBLE[]) dv FROM au),
       |qz AS (SELECT vec_id, is_batch, dv,
       |         list_max(list_transform(dv, x -> abs(x))) / 127.0 AS qscale FROM ad),
       |qq AS (SELECT vec_id, is_batch,
       |  CASE WHEN qscale = 0 THEN list_transform(dv, x -> CAST(0 AS BIGINT))
       |       ELSE list_transform(dv, x -> CAST(floor(x / qscale + 0.5) AS BIGINT))
       |  END AS qv FROM qz),
       |keyd AS (SELECT vec_id, is_batch,
       |           md5(array_to_string(qv, ',')) AS xkey, qv FROM qq),
       |w1 AS (SELECT min(vec_id) AS vec_id FROM keyd WHERE is_batch GROUP BY xkey),
       |sk AS (SELECT DISTINCT xkey FROM keyd WHERE NOT is_batch),
       |w2 AS (SELECT k.vec_id FROM keyd k JOIN w1 USING (vec_id)
       |       ANTI JOIN sk s ON k.xkey = s.xkey),
       |e AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS v FROM qq),
       |b AS ($buckets),
       |ndrop AS (
       |  SELECT DISTINCT l.vec_id FROM b l
       |  JOIN w2 lw ON lw.vec_id = l.vec_id
       |  JOIN b r ON r.tbl = l.tbl AND r.bucket = l.bucket
       |  JOIN keyd rk ON rk.vec_id = r.vec_id
       |  LEFT JOIN w2 rw ON rw.vec_id = r.vec_id
       |  WHERE ((NOT rk.is_batch) OR (rw.vec_id IS NOT NULL AND r.vec_id < l.vec_id))
       |    AND ${duckCosine("l.v", "r.v")} >= 0.99)
       |SELECT w.vec_id FROM w2 w ANTI JOIN ndrop d ON w.vec_id = d.vec_id""".stripMargin
  }

  /** The Gopher gate as [[duckCurationBody]]'s gate-extra hook. */
  private val duckPublishedGateExtra =
    "JOIN rep r ON g.doc_id = r.doc_id WHERE r.top2 <= 0.15 AND r.dup3 <= 0.15"

  /** Benchmark chain + decontamination for the published order: the
    * doc_id % 41 slice scrubbed WITHOUT line dedup gets its OWN shingle
    * stream (prefix `b` — its tokens differ from the line-deduped
    * corpus's, so q59's benchmark-⊆-corpus shingle reuse no longer
    * applies), pooled and joined against the corpus `sh`. */
  private def duckPublishedBench: String =
    s"""bscrub AS (SELECT doc_id, $duckNorm AS text FROM red WHERE doc_id % 41 = 0),
       |btoks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM bscrub),
       |${duckShingleHashes("btoks", "b")},
       |bpool AS (SELECT DISTINCT sh FROM bsh),
       |contam AS (SELECT s.doc_id FROM sh s JOIN bpool USING (sh)
       |           GROUP BY s.doc_id HAVING count(DISTINCT s.sh) >= 2),
       |clean AS (SELECT f.doc_id FROM final f ANTI JOIN contam c ON f.doc_id = c.doc_id)""".stripMargin

  /** q67 oracle: the published order end-to-end — line dedup before the
    * doc-level stages, the repetition gate inside the quality gate, the
    * separately-scrubbed benchmark, the pack tail. */
  private def duckPublishedCurationOracle: String =
    s"""WITH $duckPublishedPrefix,
       |${duckCurationBody("scrub", duckPublishedGateExtra)},
       |$duckPublishedBench,
       |${duckPackTail("clean")}""".stripMargin

  /** q68 oracle: the q67 chain finished with one count/sum per stage
    * boundary — including the two NEW rows (line scrub, repetition
    * gate). */
  private def duckPublishedReportOracle: String = {
    def stat(name: String, src: String): String =
      s"""SELECT '$name' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(len(t.ts)), 0) AS BIGINT) AS n_tokens
         |FROM toks t $src""".stripMargin
    s"""WITH $duckPublishedPrefix,
       |${duckCurationBody("scrub", duckPublishedGateExtra)},
       |$duckPublishedBench
       |${stat("0_line_scrubbed", "")}
       |UNION ALL ${stat("1_gated", "JOIN gated0 USING (doc_id)")}
       |UNION ALL ${stat("2_repetition_gated", "JOIN gated USING (doc_id)")}
       |UNION ALL ${stat("3_exact_dedup", "JOIN keep1 USING (doc_id)")}
       |UNION ALL ${stat("4_near_dedup", "JOIN final USING (doc_id)")}
       |UNION ALL ${stat("5_decontaminated", "JOIN clean USING (doc_id)")}""".stripMargin
  }

  /** The ExactSubstr span stage over a clean survivor set, as prefixed
    * CTEs: q71's gram/dict/cut/islands chain (k=20, composed owner key)
    * restricted to docs in `cleanSrc`, ending in `skept(doc_id,
    * n_tokens)` — the SURVIVING token counts the pack tail consumes. */
  private def duckSpanStage(cleanSrc: String, k: Int = 20): String =
    s"""sv AS (SELECT t.doc_id, t.ts FROM toks t JOIN $cleanSrc USING (doc_id)),
       |sgr AS (
       |  SELECT doc_id, i AS p, ${H(s"array_to_string(ts[i+1:i+$k], ' ')")} AS h
       |  FROM (SELECT doc_id, ts, unnest(generate_series(0, greatest(len(ts) - $k, 0))) AS i
       |        FROM sv WHERE len(ts) > 0)),
       |sdict AS (SELECT h, min(doc_id * 2097152 + p) AS own
       |          FROM sgr GROUP BY h HAVING count(*) > 1),
       |scut AS (SELECT g.doc_id, g.p FROM sgr g JOIN sdict d USING (h)
       |         WHERE g.doc_id * 2097152 + g.p <> d.own),
       |sbrk AS (SELECT doc_id, p,
       |    CASE WHEN lag(p) OVER sw IS NULL OR p - lag(p) OVER sw > $k THEN 1 ELSE 0 END AS b
       |  FROM scut WINDOW sw AS (PARTITION BY doc_id ORDER BY p)),
       |sisl AS (SELECT doc_id, p, sum(b) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM sbrk),
       |sspans AS (SELECT i.doc_id, min(i.p) AS s, least(max(i.p) + $k, len(t.ts)) AS e
       |           FROM sisl i JOIN toks t USING (doc_id) GROUP BY i.doc_id, len(t.ts), i.g),
       |sst AS (SELECT doc_id, sum(e - s) AS nr FROM sspans GROUP BY doc_id),
       |skept AS (SELECT v.doc_id, len(v.ts) - coalesce(st.nr, 0) AS n_tokens
       |          FROM sv v LEFT JOIN sst st USING (doc_id)
       |          WHERE len(v.ts) - coalesce(st.nr, 0) > 0)""".stripMargin

  /** [[duckPackTail]] over a (doc_id, n_tokens) source instead of raw
    * token lists — the span stage's surviving counts. */
  private def duckPackTailCounts(src: String): String =
    s"""o AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |        sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       |          - n_tokens AS tok_offset
       |      FROM $src)
       |SELECT doc_id, n_tokens, CAST(tok_offset AS BIGINT) AS tok_offset,
       |  CAST(tok_offset // 512 AS BIGINT) AS first_seq,
       |  CAST(CASE WHEN n_tokens > 0 THEN (tok_offset + n_tokens - 1) // 512
       |       ELSE tok_offset // 512 END AS BIGINT) AS last_seq
       |FROM o""".stripMargin

  /** q73 oracle: the q67 chain (with the quote plant in the prefix),
    * the span stage over the decontaminated set, the pack tail over
    * surviving counts. */
  private def duckRefinedCurationOracle: String = {
    val quote = s"CASE WHEN doc_id % 17 = 1 AND doc_id % 41 <> 0 " +
      s"THEN ' $RefinedQuote' ELSE '' END"
    s"""WITH ${duckPublishedPrefixWith(quote)},
       |${duckCurationBody("scrub", duckPublishedGateExtra)},
       |$duckPublishedBench,
       |${duckSpanStage("clean")},
       |${duckPackTailCounts("skept")}""".stripMargin
  }

  /** q74 oracle: q28's verified-pair derivation over the chain-planted
    * corpus, closed transitively by a recursive CTE — reach(id, r)
    * holds "root candidate r reaches id"; min(r) per id is the
    * component label, exactly [[graft.dedup.Components]]' keep-min
    * canonical. */
  /** Shared CTE chain of q74/q95: the planted drift-chain corpus, LSH
    * verified pairs, and the recursive closure → `corpus(doc_id, ts)`
    * and `comp(doc_id, cluster_id)`. */
  private def duckClusterCtes(plant: String =
      """SELECT doc_id * 10 + 1000000 + i AS doc_id, ts[1 + 8*i : 40 + 8*i] AS ts
        |  FROM chains, generate_series(0, 3) g(i)""".stripMargin): String = {
    val mins = (0 until 8).map(j =>
      s"min(${Stable.duckFamilyHash("sh", j)}) AS m$j").mkString(", ")
    val bands = (0 until 4).map { bnd =>
      s"SELECT doc_id, $bnd AS b, ${H(s"concat_ws(',', '$bnd', CAST(m${2 * bnd} AS VARCHAR), CAST(m${2 * bnd + 1} AS VARCHAR))")} AS bk FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $DuckToks,
       |chains AS (SELECT doc_id, ts FROM toks WHERE doc_id % 29 = 3 AND len(ts) >= 64),
       |corpus AS (
       |  SELECT doc_id, ts FROM toks
       |  UNION ALL
       |  $plant),
       |${duckShingleHashes("corpus")},
       |shsets AS (SELECT doc_id, list_distinct(list(sh)) AS s FROM sh GROUP BY doc_id),
       |mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
       |  FROM bands a JOIN bands c ON a.b = c.b AND a.bk = c.bk AND a.doc_id < c.doc_id),
       |pairs AS (
       |  SELECT id1, id2 FROM cand
       |  JOIN shsets x ON x.doc_id = id1 JOIN shsets y ON y.doc_id = id2
       |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE) >= 0.5),
       |sym AS (SELECT id1 AS u, id2 AS v FROM pairs
       |        UNION SELECT id2, id1 FROM pairs),
       |reach(id, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
       |  UNION
       |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.id),
       |comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin
  }

  private def duckClusterDedupOracle: String =
    s"""${duckClusterCtes()}
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM comp""".stripMargin

  /** q95: the closure's survivors — corpus left-joined to comp, keep
    * label-is-self (or unlabeled singleton) rows, family sizes from the
    * collapsed comp frame. */
  private def duckClusterKeepOracle: String =
    s"""${duckClusterCtes()},
       |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cs
       |          FROM comp GROUP BY cluster_id)
       |SELECT c.doc_id, coalesce(k.cluster_id, c.doc_id) AS cluster_id,
       |  coalesce(s.cs, 1) AS cluster_size
       |FROM corpus c
       |LEFT JOIN comp k USING (doc_id)
       |LEFT JOIN sizes s ON s.cluster_id = k.cluster_id
       |WHERE k.cluster_id IS NULL OR k.cluster_id = c.doc_id""".stripMargin

  /** q148: the closure CTEs over the EXTENDED-clone plant + the
    * (n_toks DESC, doc_id ASC) survivor rule per family. */
  private def duckKeepBestOracle: String =
    s"""${duckClusterCtes(
          """SELECT doc_id * 10 + 1000000 + i AS doc_id,
            |    list_concat(ts, ts[1 : 10 + 20*i]) AS ts
            |  FROM chains, generate_series(0, 1) g(i)""".stripMargin)},
       |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cs
       |          FROM comp GROUP BY cluster_id),
       |lab AS (SELECT c.doc_id, coalesce(k.cluster_id, c.doc_id) AS cluster_id,
       |          coalesce(s.cs, 1) AS cluster_size,
       |          CAST(len(c.ts) AS BIGINT) AS n_toks
       |        FROM corpus c LEFT JOIN comp k USING (doc_id)
       |        LEFT JOIN sizes s ON s.cluster_id = k.cluster_id)
       |SELECT doc_id, cluster_id, cluster_size, n_toks FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY n_toks DESC, doc_id ASC) AS rn FROM lab) WHERE rn = 1""".stripMargin

  /** q75 oracle: the quantized bigram LM in SQL — same reference slice,
    * same integer bit costs. `length(bin(x)) - 1` is floor(log2 x) in
    * both engines; the unseen-bigram cost ilog2(c1) + 1 collapses to
    * plain `length(bin(c1))`. */
  private def duckPerplexityOracle: String =
    s"""WITH $DuckToks,
       |corpus AS (
       |  SELECT doc_id, ts FROM toks
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id,
       |    list_transform(ts, t -> t || '~') AS ts
       |  FROM toks WHERE doc_id % 23 = 7),
       |bigr AS (
       |  SELECT doc_id, ${H("w1")} AS h1, ${H("w2")} AS h2 FROM (
       |    SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2 FROM (
       |      SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
       |      FROM corpus WHERE len(ts) >= 2))),
       |c12 AS (SELECT h1, h2, count(*) AS c12 FROM bigr
       |        WHERE doc_id < 2000000 AND doc_id % 5 < 2 GROUP BY h1, h2),
       |c1 AS (SELECT h1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY h1),
       |sc AS (
       |  SELECT b.doc_id,
       |    CASE WHEN m.c12 IS NOT NULL
       |           THEN (length(bin(u.c1)) - 1) - (length(bin(m.c12)) - 1)
       |         WHEN u.c1 IS NOT NULL THEN length(bin(u.c1))
       |         ELSE 20 END AS bits
       |  FROM bigr b
       |  LEFT JOIN c12 m ON m.h1 = b.h1 AND m.h2 = b.h2
       |  LEFT JOIN c1 u ON u.h1 = b.h1),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(bits) AS total_bits
       |        FROM sc GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  CAST(coalesce(a.total_bits, 0) AS BIGINT) AS total_bits,
       |  CAST(CASE WHEN coalesce(a.total_bits, 0) <= 8 * coalesce(a.n_bigrams, 0)
       |       THEN 1 ELSE 0 END AS INT) AS keep
       |FROM corpus t LEFT JOIN agg a ON a.doc_id = t.doc_id""".stripMargin

  /** q76 oracle: q75's LM CTEs with `lang` carried through, then the
    * bucket tier — histogram → cumulative window → per-lang tercile
    * cutoffs → threshold compare. `//` is DuckDB's integer division
    * (Spark's `div`); the cumulative/cut arithmetic is all-integer
    * cross-multiplication, so no float ever enters the tiling. */
  private def duckPerplexityBucketsOracle: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts
       |  FROM documents),
       |bigr AS (
       |  SELECT doc_id, ${H("w1")} AS h1, ${H("w2")} AS h2 FROM (
       |    SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2 FROM (
       |      SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
       |      FROM corpus WHERE len(ts) >= 2))),
       |c12 AS (SELECT h1, h2, count(*) AS c12 FROM bigr
       |        WHERE doc_id % 5 < 2 GROUP BY h1, h2),
       |c1 AS (SELECT h1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY h1),
       |sc AS (
       |  SELECT b.doc_id,
       |    CASE WHEN m.c12 IS NOT NULL
       |           THEN (length(bin(u.c1)) - 1) - (length(bin(m.c12)) - 1)
       |         WHEN u.c1 IS NOT NULL THEN length(bin(u.c1))
       |         ELSE 20 END AS bits
       |  FROM bigr b
       |  LEFT JOIN c12 m ON m.h1 = b.h1 AND m.h2 = b.h2
       |  LEFT JOIN c1 u ON u.h1 = b.h1),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(bits) AS total_bits
       |        FROM sc GROUP BY doc_id),
       |scored AS (
       |  SELECT c.doc_id, c.lang,
       |    CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |    CAST(coalesce(a.total_bits, 0) AS BIGINT) AS total_bits
       |  FROM corpus c LEFT JOIN agg a ON a.doc_id = c.doc_id),
       |q AS (SELECT *, CASE WHEN n_bigrams > 0
       |        THEN (total_bits * 10) // n_bigrams END AS score_q
       |      FROM scored),
       |hist AS (SELECT lang, score_q, count(*) AS c FROM q
       |         WHERE score_q IS NOT NULL GROUP BY lang, score_q),
       |cum AS (SELECT lang, score_q,
       |          sum(c) OVER (PARTITION BY lang ORDER BY score_q) AS cm,
       |          sum(c) OVER (PARTITION BY lang) AS n
       |        FROM hist),
       |cuts AS (SELECT lang,
       |           min(CASE WHEN cm * 3 >= n THEN score_q END) AS cut1,
       |           min(CASE WHEN cm * 3 >= 2 * n THEN score_q END) AS cut2
       |         FROM cum GROUP BY lang)
       |SELECT q.doc_id, q.lang, q.n_bigrams, q.total_bits,
       |  CAST(q.score_q AS BIGINT) AS score_q,
       |  CAST(CASE WHEN q.score_q IS NULL THEN 0
       |       ELSE 1 + CAST(q.score_q > k.cut1 AS INT)
       |              + CAST(q.score_q > k.cut2 AS INT) END AS INT) AS bucket
       |FROM q LEFT JOIN cuts k ON k.lang = q.lang""".stripMargin

  /** q77 oracle: the exact similarity join WITHOUT the prefix pruning —
    * inverted-index all-pairs (every pair sharing any shingle), exact
    * integer intersection counts, cross-multiplied threshold. Lossless
    * pruning means the Spark side's pruned plan must reproduce this
    * exactly. */
  private def duckJaccardJoinOracle: String =
    s"""WITH $DuckToks,
       |${duckShingleHashes()},
       |d AS (SELECT DISTINCT doc_id, sh FROM sh),
       |sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
       |  FROM d a JOIN d b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT p.id1, p.id2, CAST(p.inter AS BIGINT) AS inter,
       |  CAST(x.n AS BIGINT) AS n1, CAST(y.n AS BIGINT) AS n2
       |FROM pairs p JOIN sz x ON x.doc_id = p.id1 JOIN sz y ON y.doc_id = p.id2
       |WHERE p.inter * 2 >= (x.n + y.n - p.inter)""".stripMargin

  /** q70 oracle: q60's staged admission in SQL, Hamming edition — q29's
    * simhash CTEs (60-bit) over the union corpus, 4 × 15-bit band values
    * by bit shift, exact stages on md5 keys, near stage verified by
    * `bit_count(xor(...)) <= 3` against store ∪ lower-id peers. */
  private def duckSimhashAdmitOracle: String = {
    val rev = "array_to_string(list_reverse(list_filter(string_split(text, ' '), " +
      "t -> len(t) > 0)), ' ')"
    s"""WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       |fr AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
       |  UNION ALL SELECT doc_id + 1000000, text FROM documents
       |    WHERE doc_id % 2 = 0 AND doc_id < 20
       |  UNION ALL SELECT doc_id + 2000000, $rev FROM documents
       |    WHERE doc_id % 2 = 0 AND doc_id >= 20 AND doc_id < 40
       |  UNION ALL SELECT doc_id + 3000000, text FROM documents
       |    WHERE doc_id % 2 = 1 AND doc_id < 10
       |  UNION ALL SELECT doc_id + 4000000, $rev FROM documents
       |    WHERE doc_id % 2 = 1 AND doc_id >= 10 AND doc_id < 30),
       |d0 AS (SELECT * FROM fr UNION ALL SELECT * FROM ex),
       |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM d0),
       |th AS (SELECT doc_id, ${H("w")} AS h
       |       FROM (SELECT doc_id, unnest(ts) AS w FROM toks)),
       |bits AS (SELECT doc_id, j,
       |    sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS c
       |  FROM th, generate_series(0, 59) g(j)
       |  GROUP BY doc_id, j),
       |sims AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sim
       |  FROM bits GROUP BY doc_id),
       |xk AS (SELECT doc_id, md5(substr(text, 1, 40)) AS xkey FROM d0),
       |fxk AS (SELECT x.doc_id, x.xkey FROM xk x JOIN fr USING (doc_id)),
       |w1 AS (SELECT min(doc_id) AS doc_id FROM fxk GROUP BY xkey),
       |sxk AS (SELECT DISTINCT x.xkey FROM xk x JOIN ex USING (doc_id)),
       |w2 AS (SELECT f.doc_id FROM fxk f JOIN w1 USING (doc_id)
       |       ANTI JOIN sxk s ON f.xkey = s.xkey),
       |bands AS (
       |  SELECT doc_id, b, (sim >> (b * 15)) & 32767 AS bval, sim
       |  FROM sims, generate_series(0, 3) g(b)),
       |sb AS (SELECT b.* FROM bands b JOIN ex USING (doc_id)),
       |fb2 AS (SELECT b.* FROM bands b JOIN w2 USING (doc_id)),
       |xdrop AS (SELECT DISTINCT f.doc_id
       |          FROM fb2 f JOIN sb s ON f.b = s.b AND f.bval = s.bval
       |          WHERE bit_count(xor(f.sim, s.sim)) <= 3),
       |wdrop AS (SELECT DISTINCT x.doc_id FROM fb2 x JOIN fb2 y
       |          ON x.b = y.b AND x.bval = y.bval AND y.doc_id < x.doc_id
       |          WHERE bit_count(xor(x.sim, y.sim)) <= 3),
       |ndrop AS (SELECT doc_id FROM xdrop UNION SELECT doc_id FROM wdrop)
       |SELECT w.doc_id FROM w2 w ANTI JOIN ndrop d ON w.doc_id = d.doc_id""".stripMargin
  }

  /** q72's weight vector — ONE shared instance so the scorer's reference
    * object is identical across the gate and score calls (subexpression
    * elimination) and across query invocations. */
  private lazy val q72Weights = graft.text.Classify.seededWeights(4096, "w")

  /** q72 oracle: [[graft.text.Classify]] in SQL — per-token weight
    * lookup rebuilt from the same md5 derivation
    * (`(hash64('w' || (h % 4096)) % 2001) - 1000`), exact integer score
    * sums, the cross-multiplied mean cut, and the q38 integer-threshold
    * Bernoulli rescue. Zero-token docs have no score row and drop. */
  private def duckClassifierGateOracle: String =
    s"""WITH $DuckToks,
       |th AS (SELECT doc_id, ${H("w")} AS h
       |       FROM (SELECT doc_id, unnest(ts) AS w FROM toks)),
       |sc AS (SELECT doc_id,
       |    sum((${H("concat('w', CAST(h % 4096 AS VARCHAR))")} % 2001) - 1000) AS score_sum,
       |    count(*) AS n FROM th GROUP BY doc_id)
       |SELECT doc_id, CAST(score_sum AS BIGINT) AS score_sum,
       |  CAST(n AS BIGINT) AS n_tokens,
       |  CAST(score_sum AS DOUBLE) / CAST(n AS DOUBLE) AS mean_score
       |FROM sc
       |WHERE score_sum * 1000000 > 50000000 * n
       |   OR ${Stable.duckSeededHash(9, "doc_id")} % 1000 < 100""".stripMargin

  /** q71 oracle: [[graft.text.TextOps.dedupSpans]] in SQL — positional
    * 20-gram hashes (ngramHashes' exact slice/concat form), the
    * duplicated-gram dictionary with its composed-key owner
    * (doc_id * 2^21 + pos orders identically to Spark's struct-min while
    * positions stay under 2^21 — max doc here is 99 tokens), lag-based
    * gaps-and-islands for the span merge (fixed width k: a new island
    * starts exactly when p - lag(p) > k), and NOT EXISTS coverage for the
    * token reassembly. */
  private def duckDedupSpansOracle: String = {
    val k = 20
    s"""WITH $DuckToks,
       |grams AS (
       |  SELECT doc_id, i AS p, ${H(s"array_to_string(ts[i+1:i+$k], ' ')")} AS h
       |  FROM (SELECT doc_id, ts, unnest(generate_series(0, greatest(len(ts) - $k, 0))) AS i
       |        FROM toks WHERE len(ts) > 0)),
       |dict AS (SELECT h, min(doc_id * 2097152 + p) AS own
       |         FROM grams GROUP BY h HAVING count(*) > 1),
       |cut AS (SELECT g.doc_id, g.p FROM grams g JOIN dict d USING (h)
       |        WHERE g.doc_id * 2097152 + g.p <> d.own),
       |brk AS (SELECT doc_id, p,
       |    CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > $k THEN 1 ELSE 0 END AS b
       |  FROM cut WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |isl AS (SELECT doc_id, p, sum(b) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM brk),
       |spans AS (SELECT i.doc_id, min(i.p) AS s, least(max(i.p) + $k, len(t.ts)) AS e
       |          FROM isl i JOIN toks t USING (doc_id) GROUP BY i.doc_id, len(t.ts), i.g),
       |st AS (SELECT doc_id, count(*) AS ns, sum(e - s) AS nr FROM spans GROUP BY doc_id),
       |pos AS (SELECT doc_id, i - 1 AS q, ts[i] AS w
       |        FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM toks)),
       |kept AS (SELECT p.* FROM pos p WHERE NOT EXISTS (
       |  SELECT 1 FROM spans s WHERE s.doc_id = p.doc_id AND p.q >= s.s AND p.q < s.e)),
       |clean AS (SELECT doc_id, string_agg(w, ' ' ORDER BY q) AS ct FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(c.ct, '') AS clean_text,
       |  CAST(len(t.ts) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(st.nr, 0) AS BIGINT) AS n_removed,
       |  CAST(coalesce(st.ns, 0) AS BIGINT) AS n_spans
       |FROM toks t LEFT JOIN clean c USING (doc_id) LEFT JOIN st USING (doc_id)""".stripMargin
  }

  /** q60 oracle: the incremental-admission chain in SQL — rebuild both
    * sides' exact keys and MinHash signatures from the union of corpora
    * (ids are disjoint by construction), then apply
    * [[graft.text.Curation.admit]]'s three drop stages: exact-within
    * (min id per xkey), exact-cross (anti-join store xkeys), and the
    * single near pass (band-bucket agreement >= 0.5 with any store doc
    * or any lower-id batch doc). Agreement is an exact rational
    * (matches/8.0) on both engines, so hash-exact. */
  private def duckAdmitOracle: String = {
    val mins = (0 until 8).map(j => s"min(${Stable.duckFamilyHash("sh", j)}) AS m$j").mkString(", ")
    val bandRows = (0 until 4).map { bnd =>
      s"SELECT doc_id, $bnd AS b, ${H(s"concat_ws(',', '$bnd', CAST(m${2 * bnd} AS VARCHAR), CAST(m${2 * bnd + 1} AS VARCHAR))")} AS bk FROM mh"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until 8).map(j => s"CAST(a.m$j = c.m$j AS INT)").mkString(" + ")
    s"""WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       |fr AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
       |  UNION ALL SELECT doc_id + 1000000, text FROM documents
       |    WHERE doc_id % 2 = 0 AND doc_id < 20
       |  UNION ALL SELECT doc_id + 2000000, 'zzz ' || text FROM documents
       |    WHERE doc_id % 2 = 0 AND doc_id >= 20 AND doc_id < 40
       |  UNION ALL SELECT doc_id + 3000000, text FROM documents
       |    WHERE doc_id % 2 = 1 AND doc_id < 10
       |  UNION ALL SELECT doc_id + 4000000, 'qq ' || text FROM documents
       |    WHERE doc_id % 2 = 1 AND doc_id >= 10 AND doc_id < 30),
       |d0 AS (SELECT * FROM fr UNION ALL SELECT * FROM ex),
       |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM d0),
       |${duckShingleHashes()},
       |mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |xk AS (SELECT doc_id, md5(substr(text, 1, 40)) AS xkey FROM d0),
       |fxk AS (SELECT x.doc_id, x.xkey FROM xk x JOIN fr USING (doc_id)),
       |w1 AS (SELECT min(doc_id) AS doc_id FROM fxk GROUP BY xkey),
       |sxk AS (SELECT DISTINCT x.xkey FROM xk x JOIN ex USING (doc_id)),
       |w2 AS (SELECT f.doc_id FROM fxk f JOIN w1 USING (doc_id)
       |       ANTI JOIN sxk s ON f.xkey = s.xkey),
       |bands AS (
       |  $bandRows),
       |sb AS (SELECT b.* FROM bands b JOIN ex USING (doc_id)),
       |fb2 AS (SELECT b.* FROM bands b JOIN w2 USING (doc_id)),
       |xcand AS (SELECT DISTINCT f.doc_id AS fid, s.doc_id AS sid
       |          FROM fb2 f JOIN sb s ON f.b = s.b AND f.bk = s.bk),
       |xdrop AS (SELECT DISTINCT fid AS doc_id FROM xcand
       |          JOIN mh a ON a.doc_id = fid JOIN mh c ON c.doc_id = sid
       |          WHERE ($agree) / 8.0 >= 0.5),
       |wcand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
       |          FROM fb2 x JOIN fb2 y ON x.b = y.b AND x.bk = y.bk AND y.doc_id < x.doc_id),
       |wdrop AS (SELECT DISTINCT id1 AS doc_id FROM wcand
       |          JOIN mh a ON a.doc_id = id1 JOIN mh c ON c.doc_id = id2
       |          WHERE ($agree) / 8.0 >= 0.5),
       |ndrop AS (SELECT doc_id FROM xdrop UNION SELECT doc_id FROM wdrop)
       |SELECT w.doc_id FROM w2 w ANTI JOIN ndrop d ON w.doc_id = d.doc_id""".stripMargin
  }

  /** q39/q78 oracle: the IVF coarse quantizer is a seeded-hash sample, so
    * the oracle re-derives the same 16 centroids (smallest
    * seededHash(42, id)), the same nearest-centroid assignment (sim DESC,
    * cid ASC), the same 4-probe lists, and the exact rerank. q78 runs the
    * identical math from the PERSISTED index — rebuilding from raw here
    * is exactly what makes it a loop-closure check. */
  private def duckIvfOracle: String = duckIvfOracle("vec_id < 50")

  private def duckIvfOracle(queryPred: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |h AS (SELECT vec_id, v, ${Stable.duckSeededHash(42, "vec_id")} AS hh FROM e),
       |cent AS (SELECT v AS cv, row_number() OVER (ORDER BY hh) - 1 AS cid
       |         FROM (SELECT * FROM h ORDER BY hh LIMIT 16)),
       |sims AS (SELECT e.vec_id, e.v, c.cid, ${duckCosine("e.v", "c.cv")} AS sim
       |         FROM e, cent c),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                       ORDER BY sim DESC, cid ASC) AS rn FROM sims),
       |corp AS (SELECT vec_id AS neighbor_id, v AS cvv, cid FROM ranked WHERE rn = 1),
       |qry AS (SELECT vec_id AS query_id, v AS qv, cid FROM ranked
       |        WHERE rn <= 4 AND ($queryPred)),
       |cand AS (SELECT query_id, neighbor_id, qv, cvv FROM corp JOIN qry USING (cid)
       |         WHERE neighbor_id <> query_id),
       |scored AS (SELECT query_id, neighbor_id, ${duckCosine("qv", "cvv")} AS sim FROM cand)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                              ORDER BY sim DESC, neighbor_id ASC) AS rn
       |  FROM scored)
       |WHERE rn <= 5""".stripMargin

  /** q90 oracle: q89's refinement CTEs (quantization → seeded sample →
    * round-1 assignment → integer stats → s/n refined centroids, empty
    * clusters keeping the sampled vector) feeding q78's probe chain —
    * the float corpus assigned and probed against the REFINED quantizer. */
  private def duckIvfRefinedOracle(queryPred: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |sc AS (SELECT vec_id, v,
       |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS qscale FROM e),
       |q AS (SELECT vec_id,
       |  CASE WHEN qscale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
       |       ELSE list_transform(v, x -> floor(x / qscale + 0.5)) END AS qv
       |  FROM sc),
       |h AS (SELECT vec_id, v, ${Stable.duckSeededHash(42, "vec_id")} AS hh FROM e),
       |cent AS (SELECT v AS cv, row_number() OVER (ORDER BY hh) - 1 AS cid
       |         FROM (SELECT * FROM h ORDER BY hh LIMIT 16)),
       |sims1 AS (SELECT q.vec_id, q.qv, c.cid, ${duckCosine("q.qv", "c.cv")} AS sim
       |          FROM q, cent c),
       |a1 AS (SELECT vec_id, qv, cid FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY sim DESC, cid ASC) AS rn FROM sims1)
       |  WHERE rn = 1),
       |st1 AS (SELECT cid, i - 1 AS pos, count(*) AS n, sum(qv[i]) AS s
       |        FROM (SELECT cid, qv, unnest(generate_series(1, len(qv))) AS i FROM a1)
       |        GROUP BY cid, i),
       |c2 AS (SELECT cid, list(s / CAST(n AS DOUBLE) ORDER BY pos) AS cv2
       |       FROM st1 GROUP BY cid),
       |c2f AS (SELECT cid, cv2 FROM c2
       |        UNION ALL
       |        SELECT cid, cv AS cv2 FROM cent
       |        WHERE cid NOT IN (SELECT cid FROM c2)),
       |sims AS (SELECT e.vec_id, e.v, c.cid, ${duckCosine("e.v", "c.cv2")} AS sim
       |         FROM e, c2f c),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                       ORDER BY sim DESC, cid ASC) AS rn FROM sims),
       |corp AS (SELECT vec_id AS neighbor_id, v AS cvv, cid FROM ranked WHERE rn = 1),
       |qry AS (SELECT vec_id AS query_id, v AS qv2, cid FROM ranked
       |        WHERE rn <= 4 AND ($queryPred)),
       |cand AS (SELECT query_id, neighbor_id, qv2, cvv FROM corp JOIN qry USING (cid)
       |         WHERE neighbor_id <> query_id),
       |scored AS (SELECT query_id, neighbor_id, ${duckCosine("qv2", "cvv")} AS sim FROM cand)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                              ORDER BY sim DESC, neighbor_id ASC) AS rn
       |  FROM scored)
       |WHERE rn <= 5""".stripMargin

  /** DuckDB CTE chain reproducing [[Dedup.shingleHashes]] (k=3) over a
    * tokens CTE `src(doc_id, ts)`: md5 per token, folded 30-bit form,
    * window lead combination with the same family constants, mod 2^61-1.
    * `p` prefixes every emitted CTE name (`${p}sh` is the output), so a
    * second shingle stream — e.g. a benchmark tokenized separately from
    * the corpus, the q67/q69 shape — coexists in one WITH list. */
  /** q190 oracle: BOTH admission rounds replayed — shingle minhashes
    * computed once over the union (identical per doc either way), round
    * 1 as within-only dedup (empty store), round 2 against round 1's
    * survivor set as the store. The CTE chain is [[duckAdmitOracle]]'s
    * construction parameterized by (batch, store) per round, so the
    * store hand-off — the piece q60 cannot see — is what this pins. */
  private def duckAdmitEvolutionOracle: String = {
    val mins = (0 until 8).map(j => s"min(${Stable.duckFamilyHash("sh", j)}) AS m$j").mkString(", ")
    def bandRows(from: String) = (0 until 4).map { bnd =>
      s"SELECT doc_id, $bnd AS b, ${H(s"concat_ws(',', '$bnd', CAST(m${2 * bnd} AS VARCHAR), CAST(m${2 * bnd + 1} AS VARCHAR))")} AS bk FROM mh JOIN $from USING (doc_id)"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until 8).map(j => s"CAST(a.m$j = c.m$j AS INT)").mkString(" + ")
    s"""WITH b1 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL SELECT doc_id + 1000000, text FROM documents
       |    WHERE doc_id % 3 = 0 AND doc_id < 30),
       |b2 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
       |  UNION ALL SELECT doc_id + 2000000, text FROM documents
       |    WHERE doc_id % 3 = 0 AND doc_id < 60
       |  UNION ALL SELECT doc_id + 3000000, 'qq ' || text FROM documents
       |    WHERE doc_id % 3 = 0 AND doc_id >= 60 AND doc_id < 90),
       |d0 AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
       |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM d0),
       |${duckShingleHashes()},
       |mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |xk AS (SELECT doc_id, md5(substr(text, 1, 40)) AS xkey FROM d0),
       |f1 AS (SELECT x.doc_id, x.xkey FROM xk x JOIN b1 USING (doc_id)),
       |s1 AS (SELECT min(doc_id) AS doc_id FROM f1 GROUP BY xkey),
       |fb1 AS (
       |  ${bandRows("s1")}),
       |wd1 AS (SELECT DISTINCT x.doc_id
       |        FROM fb1 x JOIN fb1 y ON x.b = y.b AND x.bk = y.bk AND y.doc_id < x.doc_id
       |        JOIN mh a ON a.doc_id = x.doc_id JOIN mh c ON c.doc_id = y.doc_id
       |        WHERE ($agree) / 8.0 >= 0.5),
       |a1 AS (SELECT w.doc_id FROM s1 w ANTI JOIN wd1 d ON w.doc_id = d.doc_id),
       |f2 AS (SELECT x.doc_id, x.xkey FROM xk x JOIN b2 USING (doc_id)),
       |s2 AS (SELECT min(doc_id) AS doc_id FROM f2 GROUP BY xkey),
       |sxk AS (SELECT DISTINCT x.xkey FROM xk x JOIN a1 USING (doc_id)),
       |w2b AS (SELECT f.doc_id FROM f2 f JOIN s2 USING (doc_id)
       |        ANTI JOIN sxk s ON f.xkey = s.xkey),
       |sb2 AS (
       |  ${bandRows("a1")}),
       |fb2 AS (
       |  ${bandRows("w2b")}),
       |xd2 AS (SELECT DISTINCT f.doc_id
       |        FROM fb2 f JOIN sb2 s ON f.b = s.b AND f.bk = s.bk
       |        JOIN mh a ON a.doc_id = f.doc_id JOIN mh c ON c.doc_id = s.doc_id
       |        WHERE ($agree) / 8.0 >= 0.5),
       |wd2 AS (SELECT DISTINCT x.doc_id
       |        FROM fb2 x JOIN fb2 y ON x.b = y.b AND x.bk = y.bk AND y.doc_id < x.doc_id
       |        JOIN mh a ON a.doc_id = x.doc_id JOIN mh c ON c.doc_id = y.doc_id
       |        WHERE ($agree) / 8.0 >= 0.5),
       |nd2 AS (SELECT doc_id FROM xd2 UNION SELECT doc_id FROM wd2),
       |a2 AS (SELECT w.doc_id FROM w2b w ANTI JOIN nd2 d ON w.doc_id = d.doc_id)
       |SELECT CAST(1 AS BIGINT) AS batch, doc_id FROM a1
       |UNION ALL SELECT CAST(2 AS BIGINT) AS batch, doc_id FROM a2""".stripMargin
  }

  private def duckShingleHashes(src: String = "toks", p: String = ""): String = {
    val a = (0 until 3).map(i => Stable.familyConstants(100 + i)._1)
    s"""${p}tok AS (
       |  SELECT doc_id, i - 1 AS pos, ${H("w")} AS h FROM (
       |    SELECT doc_id, i, ts[i] AS w FROM (
       |      SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM $src))),
       |${p}fold AS (SELECT doc_id, pos, xor(h % 1073741824, h >> 30) AS f FROM ${p}tok),
       |${p}led AS (
       |  SELECT doc_id, pos, f,
       |    lead(f, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
       |    lead(f, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2
       |  FROM ${p}fold),
       |${p}sh AS (
       |  SELECT doc_id,
       |    (${a(0)} * f + ${a(1)} * coalesce(l1, 0) + ${a(2)} * coalesce(l2, 0))
       |      % 2305843009213693951 AS sh
       |  FROM ${p}led WHERE l2 IS NOT NULL OR pos = 0)""".stripMargin
  }

  /** q96: the BPE rounds unrolled — one (pairs → argmax → replace) CTE
    * triple per merge. `replace`'s left-to-right non-overlapping scan is
    * the greedy merge application in both engines, and every pair count
    * is an integer, so each round's argmax — and therefore the whole
    * merge table — is bit-identical. chr(1) is [[TextOps.BpeSep]]. */
  /** The BPE training rounds as a CTE chain (`w0` + one
    * s/p/b/w quadruple per round): `b$i(l, r, c)` is round i's learned
    * merge, `w$i` the vocabulary after applying it. Shared by q96 (the
    * merge table) and q97 (segmentation with the learned merges). */
  private def duckBpeCtes(nMerges: Int): String = {
    val init =
      s"""w0 AS (SELECT rtrim(regexp_replace(w, '(.)', '\\1' || chr(1), 'g'), chr(1)) AS seq, cnt
         |  FROM (SELECT w, count(*) AS cnt
         |        FROM (SELECT unnest(ts) AS w FROM toks)
         |        WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) >= 2
         |        GROUP BY w))""".stripMargin
    val iters = (1 to nMerges).map { i =>
      s"""s$i AS (SELECT string_split(seq, chr(1)) AS s, cnt FROM w${i - 1}),
         |p$i AS (SELECT s[j] AS l, s[j+1] AS r, CAST(sum(cnt) AS BIGINT) AS c
         |        FROM (SELECT s, cnt, unnest(generate_series(1, len(s)-1)) AS j FROM s$i)
         |        GROUP BY 1, 2),
         |b$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l ASC, r ASC LIMIT 1),
         |w$i AS (SELECT replace(seq, b.l || chr(1) || b.r, b.l || b.r) AS seq, cnt
         |        FROM w${i - 1}, b$i b)""".stripMargin
    }.mkString(",\n")
    s"$init,\n$iters"
  }

  private def duckBpeOracle(nMerges: Int): String = {
    val out = (1 to nMerges).map(i =>
      s"SELECT $i AS step, l AS l_sym, r AS r_sym, c AS pair_count FROM b$i")
      .mkString("\n  UNION ALL ")
    s"""WITH $DuckToks,
       |${duckBpeCtes(nMerges)}
       |SELECT CAST(step AS BIGINT) AS step, l_sym, r_sym, pair_count FROM (
       |  $out)""".stripMargin
  }

  /** q97: re-derive the merge table (b1..bN), then segment every corpus
    * token — chars joined by chr(1), the N merges applied in learned
    * order via nested `replace` (scalar subqueries against b$i), symbol
    * count = split length; non-[a-z]+ words count 1 (unsegmented). */
  private def duckBpeSegmentOracle(nMerges: Int): String = {
    val applied = (1 to nMerges).foldLeft(
      s"rtrim(regexp_replace(w, '(.)', '\\1' || chr(1), 'g'), chr(1))") {
      (acc, i) =>
        s"""replace($acc,
           |  (SELECT l || chr(1) || r FROM b$i), (SELECT l || r FROM b$i))""".stripMargin
    }
    s"""WITH $DuckToks,
       |${duckBpeCtes(nMerges)},
       |seg AS (SELECT doc_id,
       |  CASE WHEN regexp_matches(w, '^[a-z]+$$')
       |       THEN len(string_split($applied, chr(1)))
       |       ELSE 1 END AS nsym
       |  FROM (SELECT doc_id, unnest(ts) AS w FROM toks))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(nsym) AS BIGINT) AS n_subwords,
       |  CAST(sum(nsym) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility
       |FROM seg GROUP BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // q93: the same top-50 + running totals via window SQL; coverage is
    // the identical long/long double division.
    "q93_vocab_coverage" ->
      s"""WITH $DuckToks,
         |counts AS (SELECT w AS word, count(*) AS cnt
         |           FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY 1),
         |total AS (SELECT CAST(coalesce(sum(len(ts)), 0) AS BIGINT) AS t FROM toks),
         |top AS (SELECT word, cnt FROM counts ORDER BY cnt DESC, word ASC LIMIT 50),
         |cum AS (SELECT word, cnt,
         |  row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank,
         |  sum(cnt) OVER (ORDER BY cnt DESC, word ASC ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM top)
         |SELECT CAST(rank AS BIGINT) AS rank, word, CAST(cnt AS BIGINT) AS cnt,
         |  CAST(cum AS BIGINT) AS cum_cnt,
         |  CAST(cum AS DOUBLE) / CAST(total.t AS DOUBLE) AS coverage
         |FROM cum, total""".stripMargin,

    // q94: q57's shingle stream, per-doc distinct, left join the bench
    // set — counts and the int/int fraction replayed exactly.
    "q94_benchmark_overlap" ->
      s"""WITH $DuckToks,
         |${duckShingleHashes()},
         |dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
         |bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 41 = 0)
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(count(b.sh) AS BIGINT) AS n_hits,
         |  CAST(count(b.sh) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS overlap
         |FROM dsh d LEFT JOIN bsh b USING (sh) GROUP BY d.doc_id""".stripMargin,

    "q95_cluster_keep" -> duckClusterKeepOracle,
    "q148_keep_best" -> duckKeepBestOracle,
    "q96_bpe_merges" -> duckBpeOracle(6),
    "q97_bpe_fertility" -> duckBpeSegmentOracle(6),

    // q98: q25's gram/winnow CTEs verbatim, then the distinct per-doc
    // fingerprint rows self-join (id1 < id2) with the shared-count
    // threshold.
    "q98_fingerprint_pairs" ->
      s"""WITH $DuckToks,
         |grams AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, greatest(len(ts) - 2, 1)),
         |      i -> ${H("array_to_string(ts[i:i+2], ' ')")}) AS gs
         |  FROM toks),
         |mins AS (
         |  SELECT doc_id, gs, unnest(generate_series(1, greatest(len(gs) - 3, 1))) AS i
         |  FROM grams),
         |fp AS (SELECT DISTINCT doc_id, m AS fp
         |       FROM (SELECT doc_id, list_min(gs[i:i+3]) AS m FROM mins))
         |SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS n_shared
         |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,

    // q224: q98's CTEs + the occupancy prune before pairing.
    "q224_fingerprint_pruned" ->
      s"""WITH $DuckToks,
         |grams AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, greatest(len(ts) - 2, 1)),
         |      i -> ${H("array_to_string(ts[i:i+2], ' ')")}) AS gs
         |  FROM toks),
         |mins AS (
         |  SELECT doc_id, gs, unnest(generate_series(1, greatest(len(gs) - 3, 1))) AS i
         |  FROM grams),
         |fp AS (SELECT DISTINCT doc_id, m AS fp
         |       FROM (SELECT doc_id, list_min(gs[i:i+3]) AS m FROM mins)),
         |keep AS (SELECT fp FROM (SELECT fp.fp, count(*) AS c FROM fp GROUP BY 1)
         |         WHERE c <= 50),
         |fk AS (SELECT fp.doc_id, fp.fp FROM fp JOIN keep USING (fp))
         |SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS n_shared
         |FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,

    // q223: q98's fingerprint CTEs, then the q219-style histogram with
    // integer pair-work shares over the per-fp occupancy.
    "q223_fingerprint_occupancy" ->
      s"""WITH $DuckToks,
         |grams AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, greatest(len(ts) - 2, 1)),
         |      i -> ${H("array_to_string(ts[i:i+2], ' ')")}) AS gs
         |  FROM toks),
         |mins AS (
         |  SELECT doc_id, gs, unnest(generate_series(1, greatest(len(gs) - 3, 1))) AS i
         |  FROM grams),
         |fp AS (SELECT DISTINCT doc_id, m AS fp
         |       FROM (SELECT doc_id, list_min(gs[i:i+3]) AS m FROM mins)),
         |occ AS (SELECT fp.fp, CAST(count(*) AS BIGINT) AS occupancy FROM fp GROUP BY 1),
         |hist AS (SELECT occupancy, CAST(count(*) AS BIGINT) AS n_buckets,
         |           CAST(occupancy * (occupancy - 1) // 2 * count(*) AS BIGINT) AS p
         |         FROM occ GROUP BY 1),
         |tot AS (SELECT CAST(sum(p) AS BIGINT) AS tp FROM hist)
         |SELECT occupancy, n_buckets,
         |  CAST(CASE WHEN tp <= 0 THEN 0 ELSE p * 1000000 // tp END AS BIGINT)
         |    AS pair_share_ppm
         |FROM hist, tot""".stripMargin,

    // q100: the counter build and the probe replayed with the same
    // family constants (one UNION ALL branch per row — the constants
    // are baked per j at SQL-gen time, the q28 band pattern).
    "q100_count_min" -> {
      val cellRows = (0 until 4).map(j =>
        s"SELECT CAST($j AS BIGINT) AS row_j, (${Stable.duckFamilyHash("b", 300 + j)}) % 1024 AS cell, cnt FROM base")
        .mkString("\n  UNION ALL ")
      val probeRows = (0 until 4).map(j =>
        s"SELECT word, cnt, CAST($j AS BIGINT) AS row_j, (${Stable.duckFamilyHash("b", 300 + j)}) % 1024 AS cell FROM topb")
        .mkString("\n  UNION ALL ")
      s"""WITH $DuckToks,
         |wrd AS (SELECT unnest(ts) AS word FROM toks),
         |counts AS (SELECT word, count(*) AS cnt FROM wrd GROUP BY 1),
         |base AS (SELECT ${H("word")} AS b, cnt FROM counts),
         |cellocc AS (
         |  $cellRows),
         |cells AS (SELECT row_j, cell, CAST(sum(cnt) AS BIGINT) AS ccnt
         |          FROM cellocc GROUP BY 1, 2),
         |top AS (SELECT word, cnt FROM counts ORDER BY cnt DESC, word ASC LIMIT 20),
         |topb AS (SELECT word, cnt, ${H("word")} AS b FROM top),
         |probe AS (
         |  $probeRows),
         |est AS (SELECT word, min(coalesce(c.ccnt, 0)) AS cnt_cms
         |        FROM probe LEFT JOIN cells c USING (row_j, cell) GROUP BY word)
         |SELECT t.word, CAST(t.cnt AS BIGINT) AS cnt,
         |  CAST(e.cnt_cms AS BIGINT) AS cnt_cms,
         |  CAST(e.cnt_cms - t.cnt AS BIGINT) AS over_count
         |FROM top t JOIN est e USING (word)""".stripMargin
    },

    // q101: registers, the integer harmonic sum, and the one
    // output-edge division replayed; alpha embedded as the identical
    // decimal literal (Double.toString round-trips).
    "q101_hll_distinct" -> {
      val alpha = graft.sketch.Sketch.hllAlpha(8)
      s"""WITH $DuckToks,
         |${duckShingleHashes()},
         |hv AS (SELECT ${H("CAST(sh AS VARCHAR)")} AS h FROM sh),
         |hb AS (SELECT h % 256 AS bucket,
         |  CASE WHEN (h >> 8) > 0 THEN 53 - length(bin(h >> 8))
         |       ELSE 53 END AS rho
         |  FROM hv),
         |regs AS (SELECT bucket, max(rho) AS M FROM hb GROUP BY 1),
         |agg AS (SELECT count(*) AS occ,
         |  CAST(sum(CAST(1 AS BIGINT) << (53 - M)) AS BIGINT) AS s_occ FROM regs),
         |ex AS (SELECT CAST(count(DISTINCT sh) AS BIGINT) AS n_exact FROM sh)
         |SELECT CAST(256 AS BIGINT) AS m,
         |  CAST(256 - occ AS BIGINT) AS v_empty,
         |  CAST(s_occ + (256 - occ) * (CAST(1 AS BIGINT) << 53) AS BIGINT) AS s_int,
         |  CAST($alpha AS DOUBLE) * CAST(65536 AS DOUBLE) *
         |    (CAST(9007199254740992 AS DOUBLE) /
         |     CAST(s_occ + (256 - occ) * (CAST(1 AS BIGINT) << 53) AS DOUBLE)) AS estimate,
         |  n_exact
         |FROM agg, ex""".stripMargin
    },

    // q102: the row_number form over the same seeded hash — the kept
    // set must equal the TopK aggregator's cap-smallest-hashes per
    // group exactly (md5 injectivity makes the order total).
    "q102_domain_cap" ->
      s"""SELECT source, doc_id, n_chars FROM (
         |  SELECT source, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${Stable.duckSeededHash(17, "source", "doc_id")}) AS rn
         |  FROM documents)
         |WHERE rn <= 10""".stripMargin,

    // q103: the same histogram → cumulative count → integer-cross-
    // product cuts, via window SQL over the bounded histogram.
    "q103_length_gate" ->
      s"""WITH $DuckToks,
         |n AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks),
         |hist AS (SELECT n_tokens AS L, count(*) AS c FROM n GROUP BY 1),
         |cum AS (SELECT L, sum(c) OVER (ORDER BY L ROWS UNBOUNDED PRECEDING) AS cm FROM hist),
         |tot AS (SELECT sum(c) AS t FROM hist),
         |cuts AS (SELECT min(CASE WHEN cm * 100 >= t * 10 THEN L END) AS lo,
         |                min(CASE WHEN cm * 100 >= t * 90 THEN L END) AS hi
         |         FROM cum, tot)
         |SELECT doc_id, n_tokens FROM n, cuts
         |WHERE n_tokens >= lo AND n_tokens <= hi""".stripMargin,

    // q105: q62's quantization CTEs, the reduced vector as 32 literal
    // ±1 dot products (the signMatrix constants inlined — the same
    // embed-the-derivation contract as the LSH hyperplane oracles),
    // reduced-space candidate rank ≤ 100, then the q30 exact-rerank
    // tail over the full-dimension doubles.
    "q105_ann_jl" -> duckJlOracle,

    // q106: the exact top-5 (q30's form at 50 queries) joined against
    // each tier's own oracle SQL nested as a subquery — matched-pair
    // counts and the long/long recall division, one row per method.
    "q106_ann_recall" -> {
      def tier(name: String, sql: String): String =
        s"""SELECT '$name' AS method,
           |  CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_expected,
           |  CAST(count(*) AS BIGINT) AS n_hits,
           |  CAST(count(*) AS DOUBLE) /
           |    CAST((SELECT count(*) FROM ex) AS DOUBLE) AS recall
           |FROM ex JOIN (
           |$sql
           |) ap ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id""".stripMargin
      s"""WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |exs AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
         |    ${duckCosine("qq.v", "cc.v")} AS sim
         |  FROM eb cc, (SELECT * FROM eb WHERE vec_id < 50) qq
         |  WHERE cc.vec_id <> qq.vec_id),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                ORDER BY sim DESC, neighbor_id ASC) AS rn
         |    FROM exs)
         |  WHERE rn <= 5)
         |${tier("lsh", duckLshOracle)}
         |UNION ALL
         |${tier("ivf", duckIvfOracle)}
         |UNION ALL
         |${tier("jl", duckJlOracle)}""".stripMargin
    },

    // q104: q64's acceptance arithmetic with the clamp replaced by the
    // epoch expansion — generate_series(0, floor(rate)) per source,
    // full epochs unconditional, the last epoch admitted by the same
    // integer-threshold Bernoulli, every double op in the same order.
    "q104_mix_epochs" -> {
      def side(name: String, pred: String, share: String): String = {
        val rate = s"(30000.0 * $share) / t"
        s"""SELECT '$name' AS source, e.epoch, doc_id, n_tokens
           |FROM (SELECT * FROM n WHERE $pred) d,
           |     t_$name,
           |     (SELECT unnest(generate_series(0, CAST(floor($rate) AS BIGINT))) AS epoch
           |      FROM t_$name) e
           |WHERE e.epoch < CAST(floor($rate) AS BIGINT)
           |   OR ${Stable.duckSeededHash(13, s"'$name'", "doc_id")} % 1000000 <
           |     CAST(floor(($rate - floor($rate)) * 1000000) AS BIGINT)""".stripMargin
      }
      s"""WITH $DuckToks,
         |n AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks),
         |t_wiki AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM n WHERE doc_id % 10 = 0),
         |t_web AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM n WHERE doc_id % 10 <> 0)
         |${side("wiki", "doc_id % 10 = 0", "0.5")}
         |UNION ALL
         |${side("web", "doc_id % 10 <> 0", "0.5")}""".stripMargin
    },

    // q124: q98's winnow CTEs over the planted union, both pair
    // directions, per-src fingerprint counts, the cross-multiplied
    // threshold and the one edge division.
    "q124_containment" ->
      s"""WITH toks0 AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM documents),
         |u AS (SELECT doc_id, ts FROM toks0
         |      UNION ALL
         |      SELECT doc_id + 4000000 AS doc_id, ts[1:30] AS ts
         |      FROM toks0 WHERE doc_id % 43 = 0),
         |grams AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, greatest(len(ts) - 2, 1)),
         |      i -> ${H("array_to_string(ts[i:i+2], ' ')")}) AS gs
         |  FROM u),
         |mins AS (
         |  SELECT doc_id, gs, unnest(generate_series(1, greatest(len(gs) - 3, 1))) AS i
         |  FROM grams),
         |fp AS (SELECT DISTINCT doc_id, m AS fp
         |       FROM (SELECT doc_id, list_min(gs[i:i+3]) AS m FROM mins)),
         |nfp AS (SELECT doc_id AS src, CAST(count(*) AS BIGINT) AS n_src_fps
         |        FROM fp GROUP BY doc_id),
         |sh AS (SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS n_shared
         |       FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |dir AS (SELECT id1 AS src, id2 AS dst, n_shared FROM sh
         |        UNION ALL SELECT id2, id1, n_shared FROM sh)
         |SELECT d.src, d.dst, d.n_shared, n.n_src_fps,
         |  CAST(d.n_shared AS DOUBLE) / CAST(n.n_src_fps AS DOUBLE) AS containment
         |FROM dir d JOIN nfp n ON n.src = d.src
         |WHERE d.n_shared * 2 >= n.n_src_fps * 1""".stripMargin,

    // q225: q124's CTEs + the q224 keep/prune before BOTH the shared
    // counts and the per-src denominator (the pruned universe is the
    // scoring universe).
    "q225_containment_pruned" ->
      s"""WITH toks0 AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM documents),
         |u AS (SELECT doc_id, ts FROM toks0
         |      UNION ALL
         |      SELECT doc_id + 4000000 AS doc_id, ts[1:30] AS ts
         |      FROM toks0 WHERE doc_id % 43 = 0),
         |grams AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, greatest(len(ts) - 2, 1)),
         |      i -> ${H("array_to_string(ts[i:i+2], ' ')")}) AS gs
         |  FROM u),
         |mins AS (
         |  SELECT doc_id, gs, unnest(generate_series(1, greatest(len(gs) - 3, 1))) AS i
         |  FROM grams),
         |fp AS (SELECT DISTINCT doc_id, m AS fp
         |       FROM (SELECT doc_id, list_min(gs[i:i+3]) AS m FROM mins)),
         |keep AS (SELECT fp FROM (SELECT fp.fp, count(*) AS c FROM fp GROUP BY 1)
         |         WHERE c <= 50),
         |fk AS (SELECT fp.doc_id, fp.fp FROM fp JOIN keep USING (fp)),
         |nfp AS (SELECT doc_id AS src, CAST(count(*) AS BIGINT) AS n_src_fps
         |        FROM fk GROUP BY doc_id),
         |sh AS (SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS n_shared
         |       FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |dir AS (SELECT id1 AS src, id2 AS dst, n_shared FROM sh
         |        UNION ALL SELECT id2, id1, n_shared FROM sh)
         |SELECT d.src, d.dst, d.n_shared, n.n_src_fps,
         |  CAST(d.n_shared AS DOUBLE) / CAST(n.n_src_fps AS DOUBLE) AS containment
         |FROM dir d JOIN nfp n ON n.src = d.src
         |WHERE d.n_shared * 2 >= n.n_src_fps * 1""".stripMargin,

    // q122: the same integer chunk-count formula and 1-based inclusive
    // slices (DuckDB ls[a:b] truncates at the end like Spark slice).
    "q122_doc_chunks" ->
      s"""WITH $DuckToks,
         |nz AS (SELECT doc_id, ts, len(ts) AS n FROM toks WHERE len(ts) > 0),
         |ch AS (SELECT doc_id, ts, n,
         |  CASE WHEN n <= 40 THEN 1 ELSE 1 + (n - 40 + 29) // 30 END AS nc FROM nz),
         |ex AS (SELECT doc_id, ts, n, unnest(generate_series(0, nc - 1)) AS k FROM ch)
         |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
         |  ${H("array_to_string(ts[k * 30 + 1 : k * 30 + 40], ' ')")} AS chunk_hash,
         |  CAST(len(ts[k * 30 + 1 : k * 30 + 40]) AS BIGINT) AS n_chunk_tokens
         |FROM ex""".stripMargin,

    // q123: q62's quantization CTEs over the planted union; qnorm² via
    // list_sum of exact integer-valued doubles, cast once.
    "q123_embedding_health" ->
      s"""WITH u AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000, list_transform(embedding, x -> CAST(0 AS REAL))
         |  FROM embeddings WHERE vec_id = 0
         |  UNION ALL
         |  SELECT vec_id + 2000000, embedding[1:32]
         |  FROM embeddings WHERE vec_id = 1),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM u),
         |sc AS (SELECT vec_id, v,
         |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS qscale FROM e),
         |q AS (SELECT vec_id, qscale,
         |  CASE WHEN qscale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
         |       ELSE list_transform(v, x -> floor(x / qscale + 0.5)) END AS qv
         |  FROM sc),
         |h AS (SELECT qscale, len(qv) AS d,
         |        CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qn2
         |      FROM q)
         |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(CASE WHEN qscale = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         |  CAST(sum(CASE WHEN d <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
         |  min(CASE WHEN qscale > 0 THEN qscale END) AS min_qscale,
         |  max(qscale) AS max_qscale,
         |  CAST(min(qn2) AS BIGINT) AS min_qnorm2,
         |  CAST(max(qn2) AS BIGINT) AS max_qnorm2,
         |  (CAST(sum(qn2) AS BIGINT) * 10) // count(*) AS mean_qnorm2_x10
         |FROM h""".stripMargin,

    // q130: the same all-integer BM25 — quantized idf bits, integer
    // avgdl (t // n), cleared k1=6/5 b=3/4 denominators — so the score
    // sum is exact on both engines; DuckDB's `//` floor division equals
    // Spark's `div` (all operands positive). The IN-subquery replays
    // the literal isin probe. q139 (the indexed path) shares this
    // oracle verbatim — the index changes the PLAN, not the answer.
    "q130_bm25_search" -> duckBm25Oracle,
    "q139_bm25_indexed" -> duckBm25Oracle,

    // q194: per-source score histogram -> cumulative cutoffs (the
    // buckets rule at 4 epochs) -> admission epoch -> epoch fan-out +
    // md5 mixing key.
    "q194_curriculum" ->
      s"""WITH $DuckToks,
         |s AS (SELECT d.source, d.doc_id, CAST(len(t.ts) AS BIGINT) AS sc
         |      FROM documents d JOIN toks t USING (doc_id) WHERE len(t.ts) > 0),
         |hist AS (SELECT source, sc, count(*) AS c FROM s GROUP BY 1, 2),
         |cum AS (SELECT source, sc,
         |         sum(c) OVER (PARTITION BY source ORDER BY sc) AS cum,
         |         sum(c) OVER (PARTITION BY source) AS n FROM hist),
         |cuts AS (SELECT source, i, min(CASE WHEN cum * 4 >= n * i THEN sc END) AS cut
         |         FROM cum CROSS JOIN generate_series(1, 3) g(i) GROUP BY 1, 2),
         |b AS (SELECT s.source, s.doc_id, s.sc,
         |        CAST(sum(CASE WHEN s.sc > c.cut THEN 1 ELSE 0 END) AS INTEGER) AS joined_at
         |      FROM s JOIN cuts c USING (source) GROUP BY 1, 2, 3)
         |SELECT b.source, CAST(e AS BIGINT) AS epoch, b.doc_id, b.joined_at,
         |  CAST(('0x' || substr(md5(concat_ws(chr(1), '29', b.source,
         |    CAST(e AS VARCHAR), CAST(b.doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS ord_key
         |FROM b CROSS JOIN generate_series(0, 3) g(e)
         |WHERE e >= b.joined_at""".stripMargin,

    // q195: q194's curriculum CTEs at 3 epochs + a per-epoch exclusive
    // window prefix sum in (ord_key, doc_id) order — the grouped pack's
    // reference semantics.
    "q195_curriculum_pack" ->
      s"""WITH $DuckToks,
         |s AS (SELECT d.source, d.doc_id, CAST(len(t.ts) AS BIGINT) AS sc
         |      FROM documents d JOIN toks t USING (doc_id) WHERE len(t.ts) > 0),
         |hist AS (SELECT source, sc, count(*) AS c FROM s GROUP BY 1, 2),
         |cum AS (SELECT source, sc,
         |         sum(c) OVER (PARTITION BY source ORDER BY sc) AS cum,
         |         sum(c) OVER (PARTITION BY source) AS n FROM hist),
         |cuts AS (SELECT source, i, min(CASE WHEN cum * 3 >= n * i THEN sc END) AS cut
         |         FROM cum CROSS JOIN generate_series(1, 2) g(i) GROUP BY 1, 2),
         |b AS (SELECT s.source, s.doc_id, s.sc,
         |        CAST(sum(CASE WHEN s.sc > c.cut THEN 1 ELSE 0 END) AS INTEGER) AS joined_at
         |      FROM s JOIN cuts c USING (source) GROUP BY 1, 2, 3),
         |sched AS (
         |  SELECT b.source, CAST(e AS BIGINT) AS epoch, b.doc_id, b.sc,
         |    CAST(('0x' || substr(md5(concat_ws(chr(1), '29', b.source,
         |      CAST(e AS VARCHAR), CAST(b.doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS ord_key
         |  FROM b CROSS JOIN generate_series(0, 2) g(e)
         |  WHERE e >= b.joined_at),
         |packed AS (
         |  SELECT epoch, doc_id, sc AS n_tokens,
         |    coalesce(sum(sc) OVER (PARTITION BY epoch ORDER BY ord_key, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
         |  FROM sched)
         |SELECT epoch, doc_id, n_tokens,
         |  CAST(tok_offset AS BIGINT) AS tok_offset,
         |  CAST(tok_offset // 512 AS BIGINT) AS first_seq,
         |  CAST((tok_offset + n_tokens - 1) // 512 AS BIGINT) AS last_seq
         |FROM packed""".stripMargin,

    // q196: the four greedy MMR rounds unrolled — per round the q30
    // cosine formula, exact integer coefficients 7/3, argmax by
    // (score DESC, id ASC) over the not-yet-selected pool.
    "q196_mmr_select" -> {
      def cos(a: String, b: String): String =
        s"list_dot_product($a.v, $b.v) / (sqrt(list_dot_product($a.v, $a.v)) * sqrt(list_dot_product($b.v, $b.v)))"
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q0 AS (SELECT v FROM e WHERE id = 0),
         |pool AS (SELECT e.id, e.v, ${cos("e", "q0")} AS rel
         |  FROM e, q0 WHERE e.id >= 1 AND e.id < 60),
         |s1 AS (SELECT id, v, rel FROM pool
         |       ORDER BY (7 * rel - 3 * 0.0) DESC, id LIMIT 1),
         |s2 AS (SELECT p.id, p.v, p.rel FROM pool p, s1
         |       WHERE p.id <> s1.id
         |       ORDER BY (7 * p.rel - 3 * (${cos("p", "s1")})) DESC, p.id LIMIT 1),
         |s3 AS (SELECT p.id, p.v, p.rel FROM pool p, s1, s2
         |       WHERE p.id NOT IN (s1.id, s2.id)
         |       ORDER BY (7 * p.rel - 3 * GREATEST(${cos("p", "s1")}, ${cos("p", "s2")})) DESC, p.id LIMIT 1),
         |s4 AS (SELECT p.id, p.v, p.rel FROM pool p, s1, s2, s3
         |       WHERE p.id NOT IN (s1.id, s2.id, s3.id)
         |       ORDER BY (7 * p.rel - 3 * GREATEST(${cos("p", "s1")}, ${cos("p", "s2")}, ${cos("p", "s3")})) DESC, p.id LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS rank, s1.id AS vec_id FROM s1
         |UNION ALL SELECT 2, s2.id FROM s2
         |UNION ALL SELECT 3, s3.id FROM s3
         |UNION ALL SELECT 4, s4.id FROM s4""".stripMargin
    },

    // q193: q130's BM25 stage (k=20) + q30-style exact cosine ranking
    // over the shared id space, fused by integer reciprocal ranks.
    "q193_hybrid_retrieval" ->
      s"""WITH $DuckToks,
         |q(query_id, term) AS (VALUES (1, 'hash'), (1, 'join'), (1, 'table'),
         |  (2, 'window'), (2, 'stream'), (2, 'batch'),
         |  (3, 'spark'), (3, 'nosuchterm')),
         |sc AS (SELECT count(*) FILTER (WHERE len(ts) > 0) AS n,
         |       coalesce(sum(len(ts)), 0) AS t FROM toks),
         |${duckBm25Stage("q", "l")},
         |qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
         |       FROM embeddings WHERE vec_id >= 1 AND vec_id < 4),
         |cv AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v
         |       FROM embeddings),
         |sem AS (SELECT query_id, doc_id, row_number() OVER (
         |          PARTITION BY query_id ORDER BY sim DESC, doc_id ASC) AS rn
         |        FROM (SELECT q2.query_id, c2.doc_id,
         |                list_dot_product(q2.v, c2.v) /
         |                  (sqrt(list_dot_product(q2.v, q2.v)) *
         |                   sqrt(list_dot_product(c2.v, c2.v))) AS sim
         |              FROM qv q2, cv c2 WHERE q2.query_id <> c2.doc_id)),
         |contrib AS (
         |  SELECT query_id, doc_id, 1000000000000 // (60 + rn) AS c
         |  FROM rl WHERE rn <= 20
         |  UNION ALL
         |  SELECT query_id, doc_id, 1000000000000 // (60 + rn) AS c
         |  FROM sem WHERE rn <= 20),
         |f AS (SELECT query_id, doc_id, sum(c) AS s FROM contrib GROUP BY 1, 2)
         |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rn AS BIGINT) AS rank,
         |  doc_id, CAST(s AS BIGINT) AS rrf_score
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY s DESC, doc_id ASC) AS rn FROM f)
         |WHERE rn <= 10""".stripMargin,
    "q150_prf_search" -> duckPrfOracle,

    // q131: the same edge generator and five UNROLLED iterations of
    // the all-integer update — `//` replays `div` exactly (every rank
    // and contribution is non-negative), so r5 matches bit-for-bit.
    "q131_pagerank" ->
      s"""WITH $DuckPageRank5
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM r5""".stripMargin,

    // q211: the same normalization, then maxRounds (8) UNROLLED peeling
    // rounds — peeling is idempotent at the fixed point, so "Spark
    // converged within the contract" and "8 unrolled rounds" agree
    // exactly (and the operator raises if the contract is ever
    // exceeded, which would also flunk this row loudly).
    "q211_kcore" -> {
      // MATERIALIZED: DuckDB inlines plain CTEs, and each round
      // references the previous one three times — an unmaterialized
      // unroll expands 3^8 copies of the base scan (observed as "too
      // many open files" on the parquet source).
      val rounds = (0 until 8).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, count(*) AS d FROM (SELECT a AS node FROM u$i UNION ALL SELECT b FROM u$i) GROUP BY 1),
           |u${i + 1} AS MATERIALIZED (SELECT u.* FROM u$i u JOIN d$i da ON da.node = u.a JOIN d$i db ON db.node = u.b
           |        WHERE da.d >= 2 AND db.d >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $DuckLinkGraph,
         |u0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM ed WHERE src <> dst),
         |$rounds
         |SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS core_degree
         |FROM (SELECT a AS node FROM u8 UNION ALL SELECT b FROM u8) GROUP BY 1""".stripMargin
    },

    // q143: q131's r5 + the cross-multiplied seeded acceptance — the
    // max rides in from one scalar CTE.
    "q143_rank_select" ->
      s"""WITH $DuckPageRank5,
         |mx AS (SELECT max(rank) AS mx FROM r5)
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM r5, mx
         |WHERE (${Stable.duckSeededHash(23, "node")} % 1000000) * mx
         |      < 1000000 * rank""".stripMargin,

    // q149: DuckDB's nfc_normalize implements the same Unicode-standard
    // algorithm as Java's Normalizer — combining marks compose
    // identically, codepoint lengths agree.
    "q149_nfc_audit" ->
      """WITH p AS (SELECT source,
        |    CASE WHEN doc_id % 31 = 4
        |      THEN text || ' cafe' || chr(769) || ' mu' || chr(776) || 'nchen'
        |      ELSE text END AS text
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_changed,
        |  CAST(sum(length(text) - length(nfc_normalize(text))) AS BIGINT)
        |    AS sum_delta
        |FROM p GROUP BY source""".stripMargin,

    // q145: conditional-count columns — the portable spelling of PIVOT.
    "q145_pivot" ->
      """SELECT source,
        |  count(*) FILTER (WHERE lang = 'en') AS en,
        |  count(*) FILTER (WHERE lang = 'fr') AS fr,
        |  count(*) FILTER (WHERE lang = 'es') AS es,
        |  count(*) FILTER (WHERE lang = 'de') AS de,
        |  count(*) FILTER (WHERE lang = 'zh') AS zh
        |FROM documents GROUP BY source""".stripMargin,

    // q147: the q132 histogram chain with three percentile cuts.
    "q147_quantile_card" ->
      """WITH hist AS (SELECT source AS g, n_chars AS v, count(*) AS c
        |             FROM documents GROUP BY 1, 2),
        |cum AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
        |               sum(c) OVER (PARTITION BY g) AS tot FROM hist)
        |SELECT g AS source, CAST(max(tot) AS BIGINT) AS n_rows,
        |  CAST(min(CASE WHEN cum * 100 >= tot * 50 THEN v END) AS BIGINT) AS p50,
        |  CAST(min(CASE WHEN cum * 100 >= tot * 90 THEN v END) AS BIGINT) AS p90,
        |  CAST(min(CASE WHEN cum * 100 >= tot * 99 THEN v END) AS BIGINT) AS p99
        |FROM cum GROUP BY g""".stripMargin,

    // q165: list_transform/list_sum/list_filter — DuckDB's HOFs over
    // the same arrays; integer lengths, order-free sums.
    "q165_hof_stats" ->
      s"""WITH $DuckToks
         |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(list_sum(list_transform(ts, t -> len(t))), 0)
         |    AS BIGINT) AS sum_len,
         |  CAST(coalesce(list_max(list_transform(ts, t -> len(t))), 0)
         |    AS BIGINT) AS max_len,
         |  CAST(len(list_filter(ts, t -> len(t) >= 6)) AS BIGINT)
         |    AS n_long_tokens
         |FROM toks""".stripMargin,

    // q166: the SAME hop-bounded recursion over the shared edge CTEs.
    "q166_reachability" ->
      s"""WITH RECURSIVE $DuckLinkGraph,
         |reach(node, d) AS (
         |  SELECT CAST(0 AS BIGINT) AS node, 0 AS d
         |  UNION ALL
         |  SELECT e.dst, r.d + 1 FROM reach r
         |  JOIN ed e ON e.src = r.node
         |  WHERE r.d < 3)
         |SELECT node, CAST(min(d) AS BIGINT) AS dist
         |FROM reach GROUP BY node""".stripMargin,

    // q161: the same integer sums; both divisions single IEEE ops.
    "q161_moments" ->
      """SELECT source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_x,
        |  CAST(sum(n_chars * n_chars) AS BIGINT) AS sum_x2,
        |  CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_x,
        |  CAST(count(*) * sum(n_chars * n_chars)
        |       - sum(n_chars) * sum(n_chars) AS DOUBLE)
        |    / CAST(count(*) * count(*) AS DOUBLE) AS var_x
        |FROM documents GROUP BY source""".stripMargin,

    // q162: identical sum-of-longs reformulation; the double products
    // and sqrt are single correctly-rounded IEEE ops on both engines.
    "q162_correlation" ->
      """WITH d AS (SELECT n_chars AS x,
        |    CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0))
        |      AS BIGINT) AS y
        |  FROM documents),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |        sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |      FROM d)
        |SELECT CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS sx,
        |  CAST(sy AS BIGINT) AS sy, CAST(sxy AS BIGINT) AS sxy,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |         CAST(n * syy - sy * sy AS DOUBLE)) AS pearson_r
        |FROM s""".stripMargin,

    // q163: same micro-quantized per-cell terms, one integer sum.
    "q163_chi2" ->
      """WITH cells AS (SELECT lang, source, count(*) AS o
        |              FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT source, sum(o) AS ct FROM cells GROUP BY 1),
        |nn AS (SELECT sum(o) AS n, count(DISTINCT lang) AS nl,
        |         count(DISTINCT source) AS ns FROM cells)
        |SELECT CAST((nl - 1) * (ns - 1) AS BIGINT) AS dof,
        |  CAST(sum(((o * n - rt * ct) * (o * n - rt * ct) * 1000000)
        |       // (n * rt * ct)) AS BIGINT) AS chi2_micro
        |FROM cells JOIN rt USING (lang) JOIN ct USING (source), nn
        |GROUP BY nl, ns""".stripMargin,

    // q158: same unigram/bigram streams (chr(1) joint key) + distinct
    // counts; the two ratios are long/long edge divisions.
    "q158_diversity" ->
      """WITH tk AS (SELECT source,
        |      list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts
        |    FROM documents),
        |uni AS (SELECT source, unnest(ts) AS w FROM tk),
        |bi AS (SELECT source, ts[i] || chr(1) || ts[i + 1] AS b
        |       FROM (SELECT source, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        |             FROM tk WHERE len(ts) >= 2)),
        |u AS (SELECT source, count(*) AS n_tokens,
        |        count(DISTINCT w) AS n_types FROM uni GROUP BY 1),
        |b2 AS (SELECT source, count(*) AS n_bigrams,
        |        count(DISTINCT b) AS n_bigram_types FROM bi GROUP BY 1)
        |SELECT u.source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_types AS BIGINT) AS n_types,
        |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
        |  CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  CAST(n_bigram_types AS BIGINT) AS n_bigram_types,
        |  CAST(n_bigram_types AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS bigram_ttr
        |FROM u JOIN b2 USING (source)""".stripMargin,

    // q159: one hash, three thresholds — the nesting is structural.
    "q159_nested_samples" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN h < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_10pct,
         |  CAST(sum(CASE WHEN h < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_20pct,
         |  CAST(sum(CASE WHEN h < 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_50pct
         |FROM (SELECT source, ${Stable.duckSeededHash(41, "doc_id")} % 1000 AS h
         |      FROM documents)
         |GROUP BY source""".stripMargin,

    // q160: q62's quantization CTEs + per-(label, dim) integer sums —
    // round-half-up floor(x/qs + 0.5) is exact double math both sides.
    "q160_prototypes" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v,
        |             CAST(label AS BIGINT) AS label FROM embeddings),
        |sc AS (SELECT vec_id, label, v,
        |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS qs FROM e),
        |q AS (SELECT vec_id, label,
        |        CASE WHEN qs = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
        |             ELSE list_transform(v, x -> floor(x / qs + 0.5)) END AS qv
        |      FROM sc),
        |x AS (SELECT label, i - 1 AS dim, qv[i] AS val
        |      FROM (SELECT label, qv, unnest(generate_series(1, len(qv))) AS i
        |            FROM q))
        |SELECT label, CAST(dim AS BIGINT) AS dim, count(*) AS n,
        |  CAST(sum(val) AS BIGINT) AS q_sum
        |FROM x GROUP BY 1, 2""".stripMargin,

    // q157: the closure CTEs + cluster-keyed seeded split buckets —
    // every family shares one hash, so it shares one split.
    "q157_group_split" ->
      s"""${duckClusterCtes()},
         |units AS (SELECT c.doc_id, coalesce(k.cluster_id, c.doc_id) AS unit
         |          FROM corpus c LEFT JOIN comp k USING (doc_id)),
         |b AS (SELECT unit, doc_id,
         |        ${Stable.duckSeededHash(31, "unit")} % 1000 AS bk FROM units)
         |SELECT CASE WHEN bk < 800 THEN 'train' WHEN bk < 900 THEN 'valid'
         |            ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(count(DISTINCT unit) AS BIGINT) AS n_clusters
         |FROM b GROUP BY 1""".stripMargin,

    // q152: same counts → complements → bit log-odds; row_number
    // (w DESC, term ASC) replays the TopK dense-rank tiebreak.
    "q152_distinctive_terms" ->
      """WITH tk AS (SELECT source,
        |      list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts
        |    FROM documents),
        |cg AS (SELECT source AS g, w AS term, count(*) AS cg
        |       FROM (SELECT source, unnest(ts) AS w FROM tk) GROUP BY 1, 2),
        |ct AS (SELECT term, sum(cg) AS ct FROM cg GROUP BY 1),
        |tg AS (SELECT g, sum(cg) AS tg FROM cg GROUP BY 1),
        |tot AS (SELECT count(*) AS v, sum(ct) AS tt FROM ct),
        |sc AS (SELECT cg.g, cg.term,
        |         (length(bin(cg.cg + 1)) - 1)
        |         - (length(bin(CAST(ct.ct - cg.cg + 1 AS BIGINT))) - 1)
        |         + (length(bin(CAST(tot.tt - tg.tg + tot.v AS BIGINT))) - 1)
        |         - (length(bin(CAST(tg.tg + tot.v AS BIGINT))) - 1) AS w
        |       FROM cg JOIN ct USING (term) JOIN tg USING (g), tot)
        |SELECT g AS source, CAST(rn AS BIGINT) AS rank, term,
        |  CAST(w AS BIGINT) AS w
        |FROM (SELECT *, row_number() OVER (PARTITION BY g
        |        ORDER BY w DESC, term ASC) AS rn FROM sc)
        |WHERE rn <= 3""".stripMargin,

    // q153: 1-based positions, inclusive truncating slices — identical
    // context windows; ts[i+1] past the end is NULL, never an error.
    "q153_kwic" ->
      s"""WITH $DuckToks,
         |p AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i
         |      FROM toks WHERE len(ts) > 0)
         |SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |  array_to_string(ts[greatest(i - 2, 1) : i + 3], ' ') AS context
         |FROM p WHERE ts[i] = 'hash' AND ts[i + 1] = 'join'""".stripMargin,

    // q151: the union re-sketched DIRECTLY — register-wise max merge
    // must equal it bit-for-bit (max is associative/commutative/
    // idempotent), so the direct sketch IS the merged sketch's oracle.
    "q151_sketch_merge" -> {
      val alpha = graft.sketch.Sketch.hllAlpha(8)
      s"""WITH $DuckToks,
         |hv AS (SELECT ${H("w")} AS h FROM (SELECT unnest(ts) AS w FROM toks)),
         |hb AS (SELECT h % 256 AS bucket,
         |  CASE WHEN (h >> 8) > 0 THEN 53 - length(bin(h >> 8))
         |       ELSE 53 END AS rho
         |  FROM hv),
         |regs AS (SELECT bucket, max(rho) AS M FROM hb GROUP BY 1),
         |agg AS (SELECT count(*) AS occ,
         |  CAST(sum(CAST(1 AS BIGINT) << (53 - M)) AS BIGINT) AS s_occ FROM regs)
         |SELECT CAST(256 AS BIGINT) AS m,
         |  CAST(256 - occ AS BIGINT) AS v_empty,
         |  CAST(s_occ + (256 - occ) * (CAST(1 AS BIGINT) << 53) AS BIGINT) AS s_int,
         |  CAST($alpha AS DOUBLE) * CAST(65536 AS DOUBLE) *
         |    (CAST(9007199254740992 AS DOUBLE) /
         |     CAST(s_occ + (256 - occ) * (CAST(1 AS BIGINT) << 53) AS DOUBLE)) AS estimate
         |FROM agg""".stripMargin
    },

    // q141: same combo agg + HAVING; `//` = `div` on non-negatives.
    "q141_k_anonymity" ->
      """SELECT lang, source, n_chars // 100 AS len_bucket, count(*) AS n
        |FROM documents GROUP BY 1, 2, 3 HAVING count(*) < 5""".stripMargin,

    // q167: apply = anti-join the changeset ids, union upserts; the
    // checksum is the same capped-hash integer sum.
    "q167_apply_changes" ->
      s"""WITH old AS (SELECT doc_id, text, source FROM documents),
         |ups AS (SELECT doc_id, text || ' v2' AS text, source FROM old
         |        WHERE doc_id % 17 = 5
         |        UNION ALL
         |        SELECT doc_id + 5000000, text, source FROM old
         |        WHERE doc_id % 17 = 7),
         |del AS (SELECT doc_id FROM old WHERE doc_id % 17 = 3),
         |ch AS (SELECT doc_id FROM ups UNION SELECT doc_id FROM del),
         |res AS (SELECT o.doc_id, o.text, o.source FROM old o
         |        LEFT JOIN ch ON ch.doc_id = o.doc_id WHERE ch.doc_id IS NULL
         |        UNION ALL
         |        SELECT doc_id, text, source FROM ups)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(${Stable.duckSeededHash(3, "doc_id", "text")} % 1099511627776)
         |    AS BIGINT) AS checksum
         |FROM res GROUP BY source""".stripMargin,

    // q169: same degree orientation — (deg, id) order spelled as the
    // explicit lexicographic boolean; EXISTS is the semi join; each
    // triangle counted once then attributed to its three corners.
    "q169_triangles" ->
      s"""WITH $DuckLinkGraph,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM ed WHERE src <> dst),
         |dg AS (SELECT node, count(*) AS deg FROM (
         |         SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         |       GROUP BY 1),
         |o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
         |               THEN e.a ELSE e.b END AS u,
         |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
         |               THEN e.b ELSE e.a END AS v,
         |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
         |               THEN db.deg ELSE da.deg END AS dv
         |      FROM und e JOIN dg da ON da.node = e.a JOIN dg db ON db.node = e.b),
         |w AS (SELECT e1.u, e1.v AS x, e2.v AS y FROM o e1 JOIN o e2 ON e1.u = e2.u
         |      WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
         |tr AS (SELECT w.u, w.x, w.y FROM w
         |       WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.x AND o.v = w.y)),
         |pn AS (SELECT node, count(*) AS n_tri FROM (
         |         SELECT u AS node FROM tr UNION ALL SELECT x FROM tr
         |         UNION ALL SELECT y FROM tr) GROUP BY 1)
         |SELECT d.node, d.deg, CAST(coalesce(p.n_tri, 0) AS BIGINT) AS n_tri,
         |  CAST(CASE WHEN d.deg >= 2
         |         THEN (2 * 1000000 * coalesce(p.n_tri, 0)) // (d.deg * (d.deg - 1))
         |         ELSE 0 END AS BIGINT) AS cc_ppm
         |FROM dg d LEFT JOIN pn p USING (node)""".stripMargin,

    // q171: per-position pair stream (doc-final tokens pair with
    // NULL), unigrams/N summed from the pair table, the decimal-exact
    // products cast to double once each, one division, one floor.
    "q171_collocations" ->
      s"""WITH $DuckToks,
         |st AS (SELECT ts, unnest(generate_series(1, len(ts))) AS i
         |       FROM toks WHERE len(ts) >= 1),
         |pr AS (SELECT ts[i] AS w1,
         |         CASE WHEN i < len(ts) THEN ts[i + 1] END AS w2 FROM st),
         |pc AS (SELECT w1, w2, count(*) AS c FROM pr GROUP BY 1, 2),
         |uni AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1 FROM pc GROUP BY 1),
         |nn AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM uni),
         |b AS (SELECT w1, w2, c AS c12 FROM pc
         |      WHERE w2 IS NOT NULL AND c >= 5)
         |SELECT b.w1, b.w2, b.c12, u1.c1 AS c1, u2.c1 AS c2,
         |  CAST(floor(
         |    CAST(CAST(b.c12 AS DECIMAL(38,0)) * nn.n * 1000000 AS DOUBLE) /
         |    CAST(CAST(u1.c1 AS DECIMAL(38,0)) * u2.c1 AS DOUBLE))
         |    AS BIGINT) AS score_ppm
         |FROM b JOIN uni u1 ON u1.w1 = b.w1
         |       JOIN uni u2 ON u2.w1 = b.w2, nn""".stripMargin,

    // q185: same plants, same collapsed (source, hash) chain.
    "q185_dup_rate" ->
      """WITH p AS (SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 7000000, 'mirror', text FROM documents
        |  WHERE doc_id % 31 = 4
        |  UNION ALL
        |  SELECT doc_id + 8000000, source, text FROM documents
        |  WHERE doc_id % 37 = 2),
        |sh AS (SELECT source, md5(text) AS h, count(*) AS c
        |       FROM p GROUP BY 1, 2),
        |t2 AS (SELECT h, CAST(sum(c) AS BIGINT) AS ch FROM sh GROUP BY 1)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |  count(*) AS n_distinct,
        |  CAST(sum(CASE WHEN ch >= 2 THEN c ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  CAST((1000000 * sum(CASE WHEN ch >= 2 THEN c ELSE 0 END))
        |    // sum(c) AS BIGINT) AS dup_ppm
        |FROM sh JOIN t2 USING (h) GROUP BY 1""".stripMargin,

    // q176: same histogram rank-range identity; the cumulative window
    // runs over histogram rows.
    "q176_gini" ->
      """WITH h AS (SELECT source AS g, n_chars AS v, count(*) AS c
        |           FROM documents GROUP BY 1, 2),
        |w AS (SELECT g, v, c,
        |        sum(c) OVER (PARTITION BY g ORDER BY v) - c AS f FROM h),
        |a AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
        |        CAST(sum(v * c) AS BIGINT) AS total,
        |        CAST(sum(v * (2 * c * f + c * c + c)) AS BIGINT) AS s2
        |      FROM w GROUP BY 1)
        |SELECT g AS source, n, total,
        |  CAST(CASE WHEN total > 0
        |    THEN (1000000 * (s2 - (n + 1) * total)) // (n * total)
        |    ELSE 0 END AS BIGINT) AS gini_ppm
        |FROM a""".stripMargin,

    // q175: the oracle runs the sort-scan form directly — per-x
    // argmax by QUALIFY, exclusive prefix max as an unbounded-to-1-
    // preceding window (fine single-node; the engine's point is
    // avoiding exactly that shape distributed).
    "q175_skyline" ->
      s"""WITH $DuckToks,
        |p AS (SELECT CAST(len(ts) AS BIGINT) AS x,
        |        (1000000 * CAST(len(list_distinct(ts)) AS BIGINT)) // len(ts) AS y
        |      FROM toks WHERE len(ts) >= 1),
        |pc AS (SELECT x, y, count(*) AS n FROM p GROUP BY 1, 2),
        |g AS (SELECT x, y, n FROM pc
        |      QUALIFY row_number() OVER (PARTITION BY x ORDER BY y DESC) = 1),
        |s AS (SELECT x, y, n, max(y) OVER (ORDER BY x DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |      FROM g)
        |SELECT x AS n_tokens, y AS ttr_ppm, CAST(n AS BIGINT) AS n_points
        |FROM s WHERE pm IS NULL OR y > pm""".stripMargin,

    // q174: tf table rebuilt live, the query VALUES inlined, match
    // count vs distinct-term count as the conjunction test.
    "q174_boolean_search" ->
      s"""WITH $DuckToks,
         |p AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl,
         |        unnest(ts) AS term FROM toks),
         |tf AS (SELECT doc_id, dl, term, count(*) AS tf
         |       FROM p GROUP BY 1, 2, 3),
         |q AS (SELECT * FROM (VALUES (1, 'hash', 2), (1, 'join', 2),
         |        (2, 'window', 3), (2, 'stream', 3), (2, 'batch', 3),
         |        (3, 'spark', 2), (3, 'nosuchterm', 2))
         |        AS v(query_id, term, nt)),
         |j AS (SELECT q.query_id, tf.doc_id, max(tf.dl) AS dl,
         |        count(*) AS m, max(q.nt) AS nt,
         |        CAST(sum(tf.tf) AS BIGINT) AS tf_total
         |      FROM tf JOIN q USING (term) GROUP BY 1, 2)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, dl, tf_total
         |FROM j WHERE m = nt""".stripMargin,

    // q173: same micro-grid (floor of one double product), 1-based
    // list indexing, the pair domain generated once and crossed.
    "q173_gram" ->
      """WITH q AS (SELECT list_transform(embedding,
        |         x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |       FROM embeddings),
        |ij AS (SELECT unnest(generate_series(0, 63)) AS i),
        |pr AS (SELECT a.i AS i, b.i AS j FROM ij a JOIN ij b ON b.i >= a.i),
        |e AS (SELECT p.i, p.j, q.q[p.i + 1] AS xi, q.q[p.j + 1] AS xj
        |      FROM q, pr p),
        |agg AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |          count(*) AS n, CAST(sum(xi * xj) AS BIGINT) AS g,
        |          CAST(sum(xi) AS BIGINT) AS si, CAST(sum(xj) AS BIGINT) AS sj
        |        FROM e GROUP BY 1, 2)
        |SELECT i, j, n, g, si, sj,
        |  (CAST(n AS DOUBLE) * CAST(g AS DOUBLE)
        |     - CAST(si AS DOUBLE) * CAST(sj AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS cov
        |FROM agg""".stripMargin,

    // q172: the oracle takes the OTHER road — rebuild the applied
    // corpus row set and aggregate it fresh; rows %17∈{3,5} leave the
    // unchanged arm, the edited and re-added arms re-enter.
    "q172_delta_rollup" ->
      """WITH old AS (SELECT doc_id, source, n_chars FROM documents),
        |res AS (
        |  SELECT source, n_chars FROM old WHERE doc_id % 17 NOT IN (3, 5)
        |  UNION ALL
        |  SELECT source, n_chars + 3 FROM old WHERE doc_id % 17 = 5
        |  UNION ALL
        |  SELECT source, n_chars FROM old WHERE doc_id % 17 = 7)
        |SELECT source, count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_val
        |FROM res GROUP BY 1""".stripMargin,

    // q137: the same plants + full join on doc_id with md5 content
    // compare; unchanged rows drop before the per-source count.
    "q137_snapshot_diff" ->
      """WITH old AS (SELECT doc_id, text, source FROM documents),
        |nw AS (SELECT doc_id,
        |         CASE WHEN doc_id % 17 = 5 THEN text || ' v2' ELSE text END AS text,
        |         source
        |       FROM old WHERE doc_id % 17 <> 3
        |       UNION ALL
        |       SELECT doc_id + 5000000, text, source FROM old WHERE doc_id % 17 = 7),
        |d AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
        |               WHEN n.doc_id IS NULL THEN 'removed'
        |               WHEN md5(o.text) <> md5(n.text) THEN 'changed' END AS status,
        |        coalesce(n.source, o.source) AS source
        |      FROM old o FULL JOIN nw n ON o.doc_id = n.doc_id)
        |SELECT source, status, count(*) AS n FROM d
        |WHERE status IS NOT NULL GROUP BY 1, 2""".stripMargin,

    // q134: all pairs between the halves, micro-floored cosines, two
    // rank-bounded neighborhood sums, forward best, and the
    // cross-multiplied margin test — every compare on integers.
    "q134_bitext_margin" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings),
         |sa AS (SELECT vec_id AS src_id, v AS av FROM e WHERE label % 2 = 0),
         |sb AS (SELECT vec_id AS dst_id, v AS bv FROM e WHERE label % 2 = 1),
         |p AS (SELECT src_id, dst_id,
         |        CAST(floor(${duckCosine("av", "bv")} * 1000000) AS BIGINT) AS cq
         |      FROM sa, sb),
         |sx AS (SELECT src_id, sum(cq) AS sxs FROM (
         |         SELECT src_id, cq, row_number() OVER (PARTITION BY src_id
         |           ORDER BY cq DESC, dst_id ASC) AS rn FROM p)
         |       WHERE rn <= 4 GROUP BY 1),
         |sy AS (SELECT dst_id, sum(cq) AS sys FROM (
         |         SELECT dst_id, cq, row_number() OVER (PARTITION BY dst_id
         |           ORDER BY cq DESC, src_id ASC) AS rn FROM p)
         |       WHERE rn <= 4 GROUP BY 1),
         |bst AS (SELECT src_id, dst_id, cq FROM (
         |         SELECT *, row_number() OVER (PARTITION BY src_id
         |           ORDER BY cq DESC, dst_id ASC) AS rn FROM p)
         |        WHERE rn = 1)
         |SELECT b.src_id, b.dst_id, b.cq AS cos_micro,
         |  CAST(x.sxs AS BIGINT) AS knn_sum_src,
         |  CAST(y.sys AS BIGINT) AS knn_sum_dst
         |FROM bst b JOIN sx x USING (src_id) JOIN sy y USING (dst_id)
         |WHERE b.cq * 8 * 100 > (x.sxs + y.sys) * 105""".stripMargin,

    // q217: q134's margin chain with the pair CTE swapped for the
    // sign-LSH candidate join — the hyperplanes are seed-derived
    // constants (Ann.hyperplanes(42, 4, 8, 64)) inlined as literals,
    // per-table buckets rebuilt per side, DISTINCT pairs, then the
    // identical rank-bounded sums and cross-multiplied margin test.
    "q217_bitext_margin_lsh" -> {
      val buckets = duckBucketUnion(
        Ann.hyperplanes(42, tables = 4, planes = 8, dim = 64), from = "ev")
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings),
         |b AS ($buckets),
         |ba AS (SELECT b.vec_id AS src_id, b.v AS av, tbl, bucket
         |       FROM b JOIN ev USING (vec_id) WHERE ev.label % 2 = 0),
         |bb AS (SELECT b.vec_id AS dst_id, b.v AS bv, tbl, bucket
         |       FROM b JOIN ev USING (vec_id) WHERE ev.label % 2 = 1),
         |p AS (SELECT DISTINCT src_id, dst_id,
         |        CAST(floor(${duckCosine("av", "bv")} * 1000000) AS BIGINT) AS cq
         |      FROM ba JOIN bb USING (tbl, bucket)),
         |sx AS (SELECT src_id, sum(cq) AS sxs FROM (
         |         SELECT src_id, cq, row_number() OVER (PARTITION BY src_id
         |           ORDER BY cq DESC, dst_id ASC) AS rn FROM p)
         |       WHERE rn <= 4 GROUP BY 1),
         |sy AS (SELECT dst_id, sum(cq) AS sys FROM (
         |         SELECT dst_id, cq, row_number() OVER (PARTITION BY dst_id
         |           ORDER BY cq DESC, src_id ASC) AS rn FROM p)
         |       WHERE rn <= 4 GROUP BY 1),
         |bst AS (SELECT src_id, dst_id, cq FROM (
         |         SELECT *, row_number() OVER (PARTITION BY src_id
         |           ORDER BY cq DESC, dst_id ASC) AS rn FROM p)
         |        WHERE rn = 1)
         |SELECT b.src_id, b.dst_id, b.cq AS cos_micro,
         |  CAST(x.sxs AS BIGINT) AS knn_sum_src,
         |  CAST(y.sys AS BIGINT) AS knn_sum_dst
         |FROM bst b JOIN sx x USING (src_id) JOIN sy y USING (dst_id)
         |WHERE b.cq * 8 * 100 > (x.sxs + y.sys) * 105""".stripMargin
    },

    // q133: the full train → pack → score chain replayed — add-one
    // counts, bit-quantized log-odds, hash64 % 256 bucket packing with
    // colliding-token sums, then the per-doc bucket-weight sum; the
    // mean is the one output-edge division (int/int, IEEE-exact).
    "q133_trained_classifier" ->
      s"""WITH tk AS (SELECT doc_id, lang,
         |      list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts
         |    FROM documents),
         |cp AS (SELECT w AS token, count(*) AS cp
         |       FROM (SELECT unnest(ts) AS w FROM tk WHERE lang = 'en') GROUP BY 1),
         |cn AS (SELECT w AS token, count(*) AS cn
         |       FROM (SELECT unnest(ts) AS w FROM tk WHERE lang = 'zh') GROUP BY 1),
         |j AS (SELECT token, coalesce(cp, 0) AS cp, coalesce(cn, 0) AS cn
         |      FROM cp FULL JOIN cn USING (token)),
         |tot AS (SELECT count(*) AS v, sum(cp) AS tp, sum(cn) AS tn FROM j),
         |wt AS (SELECT token,
         |         (length(bin(cp + 1)) - 1) - (length(bin(cn + 1)) - 1)
         |         + (length(bin(CAST(tn + v AS BIGINT))) - 1)
         |         - (length(bin(CAST(tp + v AS BIGINT))) - 1) AS w
         |       FROM j, tot),
         |pk AS (SELECT ${Stable.duckHash64("token")} % 256 AS b, sum(w) AS hw
         |       FROM wt GROUP BY 1),
         |ex AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |         unnest(ts) AS tok FROM tk),
         |eb AS (SELECT doc_id, n_tokens, ${Stable.duckHash64("tok")} % 256 AS b
         |       FROM ex),
         |ds AS (SELECT e.doc_id, any_value(e.n_tokens) AS n_tokens,
         |         coalesce(sum(p.hw), 0) AS score_sum
         |       FROM eb e LEFT JOIN pk p USING (b) GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(s.score_sum, 0) AS BIGINT) AS score_sum,
         |  CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CASE WHEN coalesce(s.n_tokens, 0) > 0
         |    THEN CAST(s.score_sum AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)
         |  END AS mean_score
         |FROM (SELECT doc_id FROM documents) d LEFT JOIN ds s USING (doc_id)""".stripMargin,

    // q142: three unrolled synchronous rounds — undirected dedup via
    // UNION, per-round (src, label) vote counts, (count DESC, label
    // ASC) argmax via row_number, isolated coalesce to own id.
    "q142_communities" -> {
      val rounds = (1 to 3).map { i =>
        val prev = s"l${i - 1}"
        s"""v$i AS (SELECT u.src, l.label, count(*) AS c
           |        FROM ud u JOIN $prev l ON l.node = u.dst GROUP BY 1, 2),
           |b$i AS (SELECT src, label FROM (
           |          SELECT src, label, row_number() OVER (PARTITION BY src
           |            ORDER BY c DESC, label ASC) AS rn FROM v$i) WHERE rn = 1),
           |l$i AS (SELECT n0.node, coalesce(b.label, n0.node) AS label
           |        FROM nodes n0 LEFT JOIN b$i b ON b.src = n0.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $DuckLinkGraph,
         |ud AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
         |nodes AS (SELECT DISTINCT src AS node FROM ud),
         |l0 AS (SELECT node, node AS label FROM nodes),
         |$rounds
         |SELECT node, label FROM l3""".stripMargin
    },

    // q132: identical histogram → median → deviation-histogram → MAD →
    // outlier-count chain; the lower-median rule (min v with 2·cum ≥
    // tot) and the cross-multiplied outlier test are division-free.
    "q132_outlier_report" ->
      """WITH hist AS (SELECT source AS g, n_chars AS v, count(*) AS c
        |             FROM documents GROUP BY 1, 2),
        |cumv AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
        |                sum(c) OVER (PARTITION BY g) AS tot FROM hist),
        |med AS (SELECT g, min(CASE WHEN cum * 2 >= tot THEN v END) AS med,
        |               max(tot) AS n_docs FROM cumv GROUP BY 1),
        |dev AS (SELECT h.g, abs(h.v - m.med) AS d, sum(h.c) AS c
        |        FROM hist h JOIN med m USING (g) GROUP BY 1, 2),
        |cumd AS (SELECT g, d, c, sum(c) OVER (PARTITION BY g ORDER BY d) AS cum,
        |                sum(c) OVER (PARTITION BY g) AS tot FROM dev),
        |mad AS (SELECT g, min(CASE WHEN cum * 2 >= tot THEN d END) AS mad
        |        FROM cumd GROUP BY 1),
        |outc AS (SELECT dv.g,
        |           coalesce(sum(CASE WHEN dv.d * 1 > md.mad * 1 THEN dv.c END), 0)
        |             AS n_outliers
        |         FROM dev dv JOIN mad md USING (g) GROUP BY 1)
        |SELECT m.g AS source, CAST(m.n_docs AS BIGINT) AS n_docs,
        |  CAST(m.med AS BIGINT) AS median, CAST(md.mad AS BIGINT) AS mad,
        |  CAST(o.n_outliers AS BIGINT) AS n_outliers
        |FROM med m JOIN mad md USING (g) JOIN outc o USING (g)""".stripMargin,

    // q120: q39's centroid-sample and assignment CTEs + the per-cid
    // count and long/long share.
    "q120_ivf_balance" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |h AS (SELECT vec_id, v, ${Stable.duckSeededHash(42, "vec_id")} AS hh FROM e),
         |cent AS (SELECT v AS cv, row_number() OVER (ORDER BY hh) - 1 AS cid
         |         FROM (SELECT * FROM h ORDER BY hh LIMIT 16)),
         |sims AS (SELECT e.vec_id, c.cid, ${duckCosine("e.v", "c.cv")} AS sim
         |         FROM e, cent c),
         |asg AS (SELECT vec_id, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY sim DESC, cid ASC) AS rn FROM sims)
         |  WHERE rn = 1),
         |cnt AS (SELECT cid, count(*) AS n FROM asg GROUP BY cid),
         |tot AS (SELECT sum(n) AS t FROM cnt)
         |SELECT CAST(cid AS BIGINT) AS cid, CAST(n AS BIGINT) AS n_vecs,
         |  CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS share
         |FROM cnt, tot""".stripMargin,

    // q121: per-side vocab counts, full outer join, TakeOrdered top-50,
    // and the same long/long share arithmetic.
    "q121_vocab_drift" ->
      s"""WITH $DuckToks,
         |wa AS (SELECT unnest(ts) AS word FROM toks WHERE doc_id % 2 = 0),
         |wb AS (SELECT unnest(ts) AS word FROM toks WHERE doc_id % 2 <> 0),
         |ca AS (SELECT word, count(*) AS cnt_a FROM wa GROUP BY word),
         |cb AS (SELECT word, count(*) AS cnt_b FROM wb GROUP BY word),
         |j AS (SELECT coalesce(ca.word, cb.word) AS word,
         |        coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
         |      FROM ca FULL OUTER JOIN cb ON ca.word = cb.word),
         |top AS (SELECT * FROM j ORDER BY cnt_a + cnt_b DESC, word ASC LIMIT 50),
         |tot AS (SELECT (SELECT sum(cnt_a) FROM ca) AS ta,
         |               (SELECT sum(cnt_b) FROM cb) AS tb)
         |SELECT word, CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
         |  CAST(cnt_a AS DOUBLE) / CAST(ta AS DOUBLE) AS share_a,
         |  CAST(cnt_b AS DOUBLE) / CAST(tb AS DOUBLE) AS share_b,
         |  CAST(cnt_a AS DOUBLE) / CAST(ta AS DOUBLE) -
         |    CAST(cnt_b AS DOUBLE) / CAST(tb AS DOUBLE) AS share_delta
         |FROM top, tot""".stripMargin,

    // q119: the planted union, q32's split CASE on the same hash, and
    // q94's distinct-shingle overlap restricted to each side.
    "q119_split_leakage" -> {
      s"""WITH $DuckToks,
         |u AS (SELECT doc_id, ts FROM toks
         |      UNION ALL
         |      SELECT doc_id + 3000000 AS doc_id, ts FROM toks WHERE doc_id % 37 = 0),
         |${duckShingleHashes("u")},
         |sp AS (SELECT doc_id,
         |  CASE WHEN ${Stable.duckSeededHash(42, "doc_id")} % 1000 < 900
         |       THEN 'train' ELSE 'test' END AS split FROM u),
         |dsh AS (SELECT DISTINCT s.doc_id, sh FROM sh s
         |        JOIN sp ON sp.doc_id = s.doc_id AND sp.split = 'train'),
         |bsh AS (SELECT DISTINCT sh FROM sh s
         |        JOIN sp ON sp.doc_id = s.doc_id AND sp.split = 'test')
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(count(b.sh) AS BIGINT) AS n_hits,
         |  CAST(count(b.sh) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS overlap
         |FROM dsh d LEFT JOIN bsh b USING (sh) GROUP BY d.doc_id
         |HAVING count(b.sh) > 0""".stripMargin
    },

    // q118: q104's acceptance CTEs aggregated per source, plus the
    // scalar derivations (rate, floor epochs, fractional threshold)
    // with the identical double/floor sequence.
    "q118_mix_report" -> {
      def side(name: String, pred: String, share: String): String = {
        val rate = s"(30000.0 * $share) / t"
        s"""SELECT '$name' AS source,
           |  CAST(t AS BIGINT) AS available_tokens,
           |  CAST($share AS DOUBLE) AS share,
           |  $rate AS rate,
           |  CAST(floor($rate) AS BIGINT) AS full_epochs,
           |  CAST(floor(($rate - floor($rate)) * 1000000) AS BIGINT) AS frac_threshold,
           |  (SELECT CAST(count(*) AS BIGINT) FROM acc WHERE source = '$name') AS accepted_rows,
           |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM acc WHERE source = '$name') AS accepted_tokens
           |FROM t_$name""".stripMargin
      }
      def accSide(name: String, pred: String, share: String): String = {
        val rate = s"(30000.0 * $share) / t"
        s"""SELECT '$name' AS source, e.epoch, doc_id, n_tokens
           |FROM (SELECT * FROM n WHERE $pred) d,
           |     t_$name,
           |     (SELECT unnest(generate_series(0, CAST(floor($rate) AS BIGINT))) AS epoch
           |      FROM t_$name) e
           |WHERE e.epoch < CAST(floor($rate) AS BIGINT)
           |   OR ${Stable.duckSeededHash(13, s"'$name'", "doc_id")} % 1000000 <
           |     CAST(floor(($rate - floor($rate)) * 1000000) AS BIGINT)""".stripMargin
      }
      s"""WITH $DuckToks,
         |n AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks),
         |t_wiki AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM n WHERE doc_id % 10 = 0),
         |t_web AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM n WHERE doc_id % 10 <> 0),
         |acc AS (
         |${accSide("wiki", "doc_id % 10 = 0", "0.5")}
         |UNION ALL
         |${accSide("web", "doc_id % 10 <> 0", "0.5")})
         |${side("wiki", "doc_id % 10 = 0", "0.5")}
         |UNION ALL
         |${side("web", "doc_id % 10 <> 0", "0.5")}""".stripMargin
    },

    // q117: trigram + bigram count tables over the reference slice,
    // context totals, and the cascading highest-seen-order CASE — every
    // cost an ilog2 integer, the keep flag cross-multiplied.
    "q117_trigram_lm" ->
      s"""WITH $DuckToks,
         |u AS (SELECT doc_id, ts FROM toks
         |      UNION ALL
         |      SELECT doc_id + 2000000 AS doc_id,
         |             list_transform(ts, t -> t || '~') AS ts
         |      FROM toks WHERE doc_id % 23 = 7),
         |tg AS (SELECT doc_id, ${H("ts[i]")} AS h1, ${H("ts[i+1]")} AS h2,
         |         ${H("ts[i+2]")} AS h3
         |       FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i
         |             FROM u WHERE len(ts) >= 3)),
         |bgr AS (SELECT doc_id, ${H("ts[i]")} AS h2, ${H("ts[i+1]")} AS h3
         |        FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
         |              FROM u WHERE len(ts) >= 2)),
         |tri AS (SELECT h1, h2, h3, count(*) AS c123 FROM tg
         |        WHERE doc_id % 5 < 2 AND doc_id < 2000000 GROUP BY 1, 2, 3),
         |cx12 AS (SELECT h1, h2, CAST(sum(c123) AS BIGINT) AS c12ctx FROM tri GROUP BY 1, 2),
         |bi AS (SELECT h2, h3, count(*) AS c23 FROM bgr
         |       WHERE doc_id % 5 < 2 AND doc_id < 2000000 GROUP BY 1, 2),
         |cx2 AS (SELECT h2, CAST(sum(c23) AS BIGINT) AS c2ctx FROM bi GROUP BY 1),
         |sc AS (SELECT t.doc_id,
         |    CASE WHEN m.c123 IS NOT NULL
         |           THEN (length(bin(x.c12ctx)) - 1) - (length(bin(m.c123)) - 1)
         |         WHEN b.c23 IS NOT NULL
         |           THEN (length(bin(y.c2ctx)) - 1) - (length(bin(b.c23)) - 1) + 1
         |         WHEN y.c2ctx IS NOT NULL THEN (length(bin(y.c2ctx)) - 1) + 2
         |         ELSE 20 END AS bits
         |  FROM tg t
         |  LEFT JOIN tri m ON m.h1 = t.h1 AND m.h2 = t.h2 AND m.h3 = t.h3
         |  LEFT JOIN cx12 x ON x.h1 = t.h1 AND x.h2 = t.h2
         |  LEFT JOIN bi b ON b.h2 = t.h2 AND b.h3 = t.h3
         |  LEFT JOIN cx2 y ON y.h2 = t.h2),
         |agg AS (SELECT doc_id, count(*) AS n, sum(bits) AS tb FROM sc GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_trigrams,
         |  CAST(coalesce(a.tb, 0) AS BIGINT) AS total_bits,
         |  CAST(CASE WHEN coalesce(a.tb, 0) <= coalesce(a.n, 0) * 9
         |            THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM (SELECT doc_id FROM u) d LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // q116: q111's page/line CTEs with q116's plants, the word and
    // language filters on the reassembled text, then q71's span-dedup
    // chain at LINE granularity (k=3, windows hashed over the
    // space-joined 3-line gram — ngramHashes' joining rule — and
    // reassembled with chr(10)).
    "q116_c4_curation" -> {
      val k = 3
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 19 = 0 THEN 'el la de y que la el y va.'
         |       ELSE text || '.' END ||
         |  chr(10) || 'click here to subscribe' ||
         |  CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'visit our store today.' ||
         |    chr(10) || 'thanks for reading along.' || chr(10) || 'see you next time.'
         |    ELSE '' END ||
         |  CASE WHEN doc_id % 23 = 0 THEN chr(10) || 'this content has badword inside.'
         |       ELSE '' END ||
         |  CASE WHEN doc_id % 31 = 0 THEN chr(10) || 'filler lorem ipsum text here.'
         |       ELSE '' END AS text
         |  FROM documents),
         |pg AS (SELECT * FROM d
         |       WHERE NOT contains(text, 'lorem ipsum') AND NOT contains(text, '{')),
         |l0 AS (SELECT doc_id, i - 1 AS li, ls[i] AS ln FROM (
         |  SELECT doc_id, string_split(text, chr(10)) AS ls,
         |         unnest(generate_series(1, len(ls))) AS i FROM pg)),
         |lk AS (SELECT doc_id, li, ln FROM l0
         |      WHERE regexp_matches(ln, '[.!?"]$$')
         |        AND len(list_filter(string_split(ln, ' '), t -> len(t) > 0)) >= 3
         |        AND NOT contains(ln, 'javascript')),
         |ct AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY li) AS ctext FROM lk
         |       GROUP BY doc_id),
         |safe AS (SELECT * FROM ct WHERE NOT contains(ctext, 'badword')),
         |lg AS (SELECT doc_id, ctext,
         |    list_filter(string_split(ctext, ' '), t -> len(t) > 0) AS ws FROM safe),
         |sc AS (SELECT doc_id, ctext,
         |    len(list_filter(ws, t -> t IN ('der','die','das','und','ist'))) AS s_de,
         |    len(list_filter(ws, t -> t IN ('the','a','of','and','to'))) AS s_en,
         |    len(list_filter(ws, t -> t IN ('el','la','de','y','que'))) AS s_es,
         |    len(list_filter(ws, t -> t IN ('le','la','de','et','un'))) AS s_fr,
         |    len(list_filter(ws, t -> t IN ('de','le','shi','bu','wo'))) AS s_zh
         |  FROM lg),
         |uu AS (
         |  SELECT doc_id, 'de' AS lang, s_de AS score FROM sc
         |  UNION ALL SELECT doc_id, 'en', s_en FROM sc
         |  UNION ALL SELECT doc_id, 'es', s_es FROM sc
         |  UNION ALL SELECT doc_id, 'fr', s_fr FROM sc
         |  UNION ALL SELECT doc_id, 'zh', s_zh FROM sc),
         |en AS (SELECT c.doc_id, c.ctext FROM ct c JOIN (
         |  SELECT doc_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |                                ORDER BY score DESC, lang ASC) AS rn FROM uu)
         |  WHERE rn = 1 AND lang = 'en') e ON e.doc_id = c.doc_id
         |  WHERE c.doc_id IN (SELECT doc_id FROM safe)),
         |ls AS (SELECT doc_id, string_split(ctext, chr(10)) AS ar FROM en),
         |grams AS (
         |  SELECT doc_id, i AS p, ${H(s"array_to_string(ar[i+1:i+$k], ' ')")} AS h
         |  FROM (SELECT doc_id, ar, unnest(generate_series(0, greatest(len(ar) - $k, 0))) AS i
         |        FROM ls WHERE len(ar) > 0)),
         |dict AS (SELECT h, min(doc_id * 2097152 + p) AS own
         |         FROM grams GROUP BY h HAVING count(*) > 1),
         |cut AS (SELECT g.doc_id, g.p FROM grams g JOIN dict dd USING (h)
         |        WHERE g.doc_id * 2097152 + g.p <> dd.own),
         |brk AS (SELECT doc_id, p,
         |    CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > $k THEN 1 ELSE 0 END AS b
         |  FROM cut WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
         |isl AS (SELECT doc_id, p, sum(b) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM brk),
         |spans AS (SELECT i.doc_id, min(i.p) AS s, least(max(i.p) + $k, len(t.ar)) AS e
         |          FROM isl i JOIN ls t USING (doc_id) GROUP BY i.doc_id, len(t.ar), i.g),
         |st AS (SELECT doc_id, count(*) AS ns, sum(e - s) AS nr FROM spans GROUP BY doc_id),
         |pos AS (SELECT doc_id, i - 1 AS q, ar[i] AS w
         |        FROM (SELECT doc_id, ar, unnest(generate_series(1, len(ar))) AS i FROM ls)),
         |kept AS (SELECT p.* FROM pos p WHERE NOT EXISTS (
         |  SELECT 1 FROM spans s WHERE s.doc_id = p.doc_id AND p.q >= s.s AND p.q < s.e)),
         |clean AS (SELECT doc_id, string_agg(w, chr(10) ORDER BY q) AS ctx FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(c.ctx, '') AS clean_text,
         |  CAST(len(t.ar) AS BIGINT) AS n_lines,
         |  CAST(coalesce(st.nr, 0) AS BIGINT) AS n_lines_removed,
         |  CAST(coalesce(st.ns, 0) AS BIGINT) AS n_spans
         |FROM ls t LEFT JOIN clean c USING (doc_id) LEFT JOIN st USING (doc_id)""".stripMargin
    },

    // q115: the same md5 keys — doc rows joined to the distinct
    // (source, key) presence frame, counts per ordered pair.
    "q115_overlap_matrix" ->
      s"""WITH u AS (SELECT source, text FROM documents
         |           UNION ALL
         |           SELECT 'src0' AS source, text FROM documents WHERE doc_id % 11 = 0),
         |kd AS (SELECT source AS a, md5(text) AS kk FROM u),
         |p AS (SELECT DISTINCT source AS b, md5(text) AS kk FROM u)
         |SELECT a, b, CAST(count(*) AS BIGINT) AS n_docs_overlap,
         |  CAST(count(DISTINCT kd.kk) AS BIGINT) AS n_shared_texts
         |FROM kd JOIN p USING (kk) WHERE a <> b GROUP BY a, b""".stripMargin,

    // q114: q23's per-profile stopword scores applied per LINE, line
    // argmax by (score DESC, lang ASC), doc argmax by (count DESC,
    // lang ASC), long/long mix fraction.
    "q114_lang_segments" ->
      s"""WITH d AS (SELECT doc_id,
         |  text ||
         |  CASE WHEN doc_id % 6 = 0 THEN chr(10) || 'el la de y que el la que' ELSE '' END ||
         |  CASE WHEN doc_id % 9 = 0 THEN chr(10) || 'le la de et un le et un' ELSE '' END AS text
         |  FROM documents),
         |sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
         |l AS (SELECT doc_id, i AS li,
         |        list_filter(string_split(ls[i], ' '), t -> len(t) > 0) AS ts
         |      FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM sp)),
         |lf AS (SELECT * FROM l WHERE len(ts) > 0),
         |scores AS (
         |  SELECT doc_id, li,
         |    len(list_filter(ts, t -> t IN ('der','die','das','und','ist'))) AS s_de,
         |    len(list_filter(ts, t -> t IN ('the','a','of','and','to'))) AS s_en,
         |    len(list_filter(ts, t -> t IN ('el','la','de','y','que'))) AS s_es,
         |    len(list_filter(ts, t -> t IN ('le','la','de','et','un'))) AS s_fr,
         |    len(list_filter(ts, t -> t IN ('de','le','shi','bu','wo'))) AS s_zh
         |  FROM lf),
         |u AS (
         |  SELECT doc_id, li, 'de' AS lang, s_de AS score FROM scores
         |  UNION ALL SELECT doc_id, li, 'en', s_en FROM scores
         |  UNION ALL SELECT doc_id, li, 'es', s_es FROM scores
         |  UNION ALL SELECT doc_id, li, 'fr', s_fr FROM scores
         |  UNION ALL SELECT doc_id, li, 'zh', s_zh FROM scores),
         |pl AS (SELECT doc_id, li, lang FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id, li
         |                              ORDER BY score DESC, lang ASC) AS rn FROM u)
         |  WHERE rn = 1),
         |c AS (SELECT doc_id, lang, count(*) AS n FROM pl GROUP BY 1, 2),
         |best AS (SELECT doc_id, lang, n FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |                              ORDER BY n DESC, lang ASC) AS rn FROM c)
         |  WHERE rn = 1),
         |tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_lines FROM c GROUP BY doc_id)
         |SELECT t.doc_id, n_lines, b.lang AS main_lang,
         |  CAST(b.n AS BIGINT) AS n_main_lines,
         |  CAST(n_lines - b.n AS DOUBLE) / CAST(n_lines AS DOUBLE) AS mix_frac
         |FROM tot t JOIN best b USING (doc_id)""".stripMargin,

    // q113: q72's score CTE + the cross-multiplied ramp compare in
    // HUGEINT — no division anywhere, so the kept set is bit-exact.
    "q113_quality_sample" ->
      s"""WITH $DuckToks,
         |th AS (SELECT doc_id, ${H("w")} AS h
         |       FROM (SELECT doc_id, unnest(ts) AS w FROM toks)),
         |sc AS (SELECT doc_id,
         |    sum((${H("concat('w', CAST(h % 4096 AS VARCHAR))")} % 2001) - 1000) AS score_sum,
         |    count(*) AS n FROM th GROUP BY doc_id)
         |SELECT doc_id, CAST(score_sum AS BIGINT) AS score_sum,
         |  CAST(n AS BIGINT) AS n_tokens,
         |  CAST(score_sum AS DOUBLE) / CAST(n AS DOUBLE) AS mean_score
         |FROM sc
         |WHERE n > 0 AND
         |  CAST(${Stable.duckSeededHash(11, "doc_id")} % 1000000 AS HUGEINT) *
         |    CAST(300000000 * n AS HUGEINT)
         |  < CAST(score_sum * 1000000 - (-150000000) * n AS HUGEINT) *
         |    CAST(1000000 AS HUGEINT)""".stripMargin,

    // q112: exclusive prefix sum over (hash, doc_id) — the window form
    // of the distributed two-phase scan, same integer div sequence cuts.
    "q112_shuffled_pack" ->
      s"""WITH $DuckToks,
         |n AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks),
         |h AS (SELECT doc_id, n_tokens,
         |        ${Stable.duckSeededHash(23, "doc_id")} AS shuffle_key FROM n),
         |p AS (SELECT doc_id, shuffle_key, n_tokens,
         |  coalesce(sum(n_tokens) OVER (ORDER BY shuffle_key, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
         |  FROM h)
         |SELECT doc_id, shuffle_key, n_tokens,
         |  CAST(tok_offset AS BIGINT) AS tok_offset,
         |  CAST(tok_offset // 512 AS BIGINT) AS first_seq,
         |  CAST(CASE WHEN n_tokens > 0 THEN (tok_offset + n_tokens - 1) // 512
         |            ELSE tok_offset // 512 END AS BIGINT) AS last_seq
         |FROM p""".stripMargin,

    // q111: the same plants, the same RE2-safe terminal-punctuation
    // regex, word counts via the shared token rule, reassembly by
    // ordered string_agg.
    "q111_c4_line_filter" ->
      s"""WITH d AS (SELECT doc_id,
         |  text || '.' || chr(10) || 'click here to subscribe' ||
         |  chr(10) || 'read more.' ||
         |  CASE WHEN doc_id % 7 = 0
         |       THEN chr(10) || 'enable javascript to continue.' ELSE '' END ||
         |  CASE WHEN doc_id % 31 = 0
         |       THEN chr(10) || 'filler lorem ipsum text here.' ELSE '' END AS text
         |  FROM documents),
         |pg AS (SELECT * FROM d
         |       WHERE NOT contains(text, 'lorem ipsum') AND NOT contains(text, '{')),
         |l AS (SELECT doc_id, i - 1 AS li, ls[i] AS ln FROM (
         |  SELECT doc_id, string_split(text, chr(10)) AS ls,
         |         unnest(generate_series(1, len(ls))) AS i FROM pg)),
         |k AS (SELECT doc_id, li, ln FROM l
         |      WHERE regexp_matches(ln, '[.!?"]$$')
         |        AND len(list_filter(string_split(ln, ' '), t -> len(t) > 0)) >= 3
         |        AND NOT contains(ln, 'javascript'))
         |SELECT doc_id, string_agg(ln, chr(10) ORDER BY li) AS clean_text
         |FROM k GROUP BY doc_id""".stripMargin,

    // q110: the same plants; md5 hex strings agree across engines so
    // the distinct-text count does; `//` is DuckDB's integer div.
    "q110_corpus_datasheet" ->
      s"""WITH d0 AS (SELECT source, doc_id,
         |  text || CASE WHEN doc_id % 4 = 0
         |    THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
         |    ELSE '' END AS text
         |  FROM documents),
         |u AS (SELECT source, text FROM d0
         |      UNION ALL SELECT source, text FROM d0 WHERE doc_id % 17 = 0),
         |b AS (SELECT source, text,
         |  CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS BIGINT) AS nt,
         |  CAST(length(text) AS BIGINT) AS nc FROM u),
         |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens, CAST(sum(nc) AS BIGINT) AS n_chars,
         |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
         |  CAST(sum(CASE WHEN regexp_matches(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')
         |               THEN 1 ELSE 0 END) AS BIGINT) AS n_email_docs
         |  FROM b GROUP BY source),
         |h AS (SELECT source, nt, count(*) AS c FROM b GROUP BY 1, 2),
         |hc AS (SELECT source, nt,
         |  sum(c) OVER (PARTITION BY source ORDER BY nt ROWS UNBOUNDED PRECEDING) AS cum,
         |  sum(c) OVER (PARTITION BY source) AS n FROM h),
         |md AS (SELECT source, CAST(min(CASE WHEN cum * 2 >= n THEN nt END) AS BIGINT)
         |         AS median_tokens FROM hc GROUP BY source)
         |SELECT m.source, n_docs, n_tokens, n_chars, n_distinct_texts, n_email_docs,
         |  median_tokens, (n_tokens * 10) // n_docs AS mean_tokens_x10,
         |  CAST(n_docs - n_distinct_texts AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_frac
         |FROM m JOIN md USING (source)""".stripMargin,

    // q109: rank-cut stratified assignment over the same seeded hash;
    // floor of the IEEE double product gives identical boundaries.
    "q109_stratified_split" ->
      s"""WITH h AS (SELECT source, doc_id,
         |  ${Stable.duckSeededHash(19, "source", "doc_id")} AS h FROM documents),
         |r AS (SELECT source, doc_id,
         |        row_number() OVER (PARTITION BY source ORDER BY h) - 1 AS r,
         |        count(*) OVER (PARTITION BY source) AS n
         |      FROM h)
         |SELECT source, doc_id,
         |  CASE WHEN r < floor(CAST(n AS DOUBLE) * 0.8) THEN 'train'
         |       WHEN r < floor(CAST(n AS DOUBLE) * 0.9) THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM r""".stripMargin,

    // q108: the same plants and the same RE2 patterns — regexp_matches
    // is RE2's unanchored find, Spark rlike is Java's; the pattern
    // subset keeps their semantics identical.
    "q108_pii_report" ->
      s"""WITH d AS (SELECT source,
         |  text || ' user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ||
         |  CASE WHEN doc_id % 3 = 0
         |       THEN ' call +1 555-01' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 0
         |       THEN ' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) ELSE '' END AS text
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN regexp_matches(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')
         |               THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
         |  CAST(sum(CASE WHEN regexp_matches(text, '\\+?[0-9][0-9\\- ]{7,}[0-9]')
         |               THEN 1 ELSE 0 END) AS BIGINT) AS n_phone,
         |  CAST(sum(CASE WHEN regexp_matches(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')
         |               THEN 1 ELSE 0 END) AS BIGINT) AS n_ipv4
         |FROM d GROUP BY source""".stripMargin,

    // q107: q101's register/harmonic-sum replay with every stage keyed
    // by source (the shingle CTE keys by doc_id; documents supplies the
    // source tag).
    "q107_hll_by_source" -> {
      val alpha = graft.sketch.Sketch.hllAlpha(8)
      s"""WITH $DuckToks,
         |${duckShingleHashes()},
         |ss AS (SELECT d.source, sh FROM sh JOIN documents d USING (doc_id)),
         |hv AS (SELECT source, ${H("CAST(sh AS VARCHAR)")} AS h FROM ss),
         |hb AS (SELECT source, h % 256 AS bucket,
         |  CASE WHEN (h >> 8) > 0 THEN 53 - length(bin(h >> 8))
         |       ELSE 53 END AS rho
         |  FROM hv),
         |regs AS (SELECT source, bucket, max(rho) AS M FROM hb GROUP BY 1, 2),
         |agg AS (SELECT source, count(*) AS occ,
         |  CAST(sum(CAST(1 AS BIGINT) << (53 - M)) AS BIGINT) AS s_occ
         |  FROM regs GROUP BY source),
         |ex AS (SELECT source, CAST(count(DISTINCT sh) AS BIGINT) AS n_exact
         |       FROM ss GROUP BY source)
         |SELECT agg.source, CAST(256 AS BIGINT) AS m,
         |  CAST(256 - occ AS BIGINT) AS v_empty,
         |  CAST(s_occ + (256 - occ) * (CAST(1 AS BIGINT) << 53) AS BIGINT) AS s_int,
         |  CAST($alpha AS DOUBLE) * CAST(65536 AS DOUBLE) *
         |    (CAST(9007199254740992 AS DOUBLE) /
         |     CAST(s_occ + (256 - occ) * (CAST(1 AS BIGINT) << 53) AS DOUBLE)) AS estimate,
         |  n_exact
         |FROM agg JOIN ex USING (source)""".stripMargin
    },

    // q99: the same content-cut — boundary flag per token, running sum
    // per doc, ordered string_agg per chunk, then the corpus-wide
    // duplicate report.
    "q99_cdc_chunks" ->
      s"""WITH $DuckToks,
         |tok AS (SELECT doc_id, i - 1 AS pos, ts[i] AS t FROM (
         |  SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM toks)),
         |fl AS (SELECT doc_id, pos, t,
         |  CASE WHEN ${H("t")} % 16 = 0 THEN 1 ELSE 0 END AS b FROM tok),
         |ch AS (SELECT doc_id, pos, t,
         |  sum(b) OVER (PARTITION BY doc_id ORDER BY pos
         |               ROWS UNBOUNDED PRECEDING) AS chunk FROM fl),
         |asm AS (SELECT doc_id, chunk,
         |  ${H("string_agg(t, ' ' ORDER BY pos)")} AS chunk_hash,
         |  count(*) AS n_toks FROM ch GROUP BY doc_id, chunk)
         |SELECT chunk_hash, CAST(min(n_toks) AS BIGINT) AS n_toks,
         |  CAST(count(*) AS BIGINT) AS n_occ,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  min(doc_id) AS first_doc
         |FROM asm GROUP BY chunk_hash HAVING count(*) >= 2""".stripMargin,
    "q21_tokenize" ->
      s"""WITH $DuckToks,
         |counted AS (
         |  SELECT word, count(*) AS cnt
         |  FROM (SELECT unnest(ts) AS word FROM toks) GROUP BY word
         |  ORDER BY cnt DESC, word ASC LIMIT 50),
         |dict AS (
         |  SELECT word, row_number() OVER (ORDER BY cnt DESC, word ASC) + 2 AS token_id
         |  FROM counted),
         |expl AS (
         |  SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM toks)
         |SELECT e.doc_id, CAST(e.i AS BIGINT) AS pos,
         |  CAST(coalesce(d.token_id, 2) AS BIGINT) AS token_id
         |FROM (SELECT doc_id, i, ts[i] AS word FROM expl) e LEFT JOIN dict d USING (word)
         |UNION ALL SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM toks
         |UNION ALL SELECT doc_id, CAST(len(ts) + 1 AS BIGINT), CAST(1 AS BIGINT) FROM toks""".stripMargin,

    "q22_ngrams" ->
      s"""WITH $DuckToks,
         |e AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 3)) AS i
         |      FROM toks WHERE len(ts) >= 4)
         |SELECT doc_id, CAST(i - 1 AS BIGINT) AS window_idx,
         |  array_to_string(ts[i:i+2], ' ') AS ngram, ts[i+3] AS target
         |FROM e""".stripMargin,

    "q23_langid" ->
      s"""WITH $DuckToks,
         |scores AS (
         |  SELECT doc_id,
         |    len(list_filter(ts, t -> t IN ('der','die','das','und','ist'))) AS s_de,
         |    len(list_filter(ts, t -> t IN ('the','a','of','and','to'))) AS s_en,
         |    len(list_filter(ts, t -> t IN ('el','la','de','y','que'))) AS s_es,
         |    len(list_filter(ts, t -> t IN ('le','la','de','et','un'))) AS s_fr,
         |    len(list_filter(ts, t -> t IN ('de','le','shi','bu','wo'))) AS s_zh
         |  FROM toks),
         |u AS (
         |  SELECT doc_id, 'de' AS lang, s_de AS score FROM scores
         |  UNION ALL SELECT doc_id, 'en', s_en FROM scores
         |  UNION ALL SELECT doc_id, 'es', s_es FROM scores
         |  UNION ALL SELECT doc_id, 'fr', s_fr FROM scores
         |  UNION ALL SELECT doc_id, 'zh', s_zh FROM scores)
         |SELECT doc_id, lang AS lang_pred, CAST(score AS BIGINT) AS lang_score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |                              ORDER BY score DESC, lang ASC) AS rn FROM u)
         |WHERE rn = 1""".stripMargin,

    "q24_quality" ->
      s"""WITH $DuckToks,
         |j AS (SELECT d.doc_id, d.text, t.ts FROM documents d JOIN toks t USING (doc_id))
         |SELECT doc_id,
         |  CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(text) AS BIGINT) AS n_chars_measured,
         |  CAST(len(text) AS DOUBLE) / CAST(len(ts) AS DOUBLE) AS mean_token_len,
         |  CAST(len(list_filter(ts, t -> t IN ('a','and','bu','das','de','der','die','el','et','ist','la','le','of','que','shi','the','to','un','und','wo','y'))) AS DOUBLE)
         |    / CAST(len(ts) AS DOUBLE) AS stopword_ratio,
         |  CAST(len(list_filter(ts, t -> regexp_matches(t, '[^a-z]'))) AS DOUBLE)
         |    / CAST(len(ts) AS DOUBLE) AS nonalpha_ratio,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_regex_tokens
         |FROM j""".stripMargin,

    "q25_fingerprint" ->
      s"""WITH $DuckToks,
         |grams AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, greatest(len(ts) - 2, 1)),
         |      i -> ${H("array_to_string(ts[i:i+2], ' ')")}) AS gs
         |  FROM toks),
         |mins AS (
         |  SELECT doc_id, gs, unnest(generate_series(1, greatest(len(gs) - 3, 1))) AS i
         |  FROM grams)
         |SELECT doc_id, CAST(count(DISTINCT m) AS BIGINT) AS n_fp, min(m) AS min_fp
         |FROM (SELECT doc_id, list_min(gs[i:i+3]) AS m FROM mins)
         |GROUP BY doc_id""".stripMargin,

    "q26_dedup_exact" ->
      """SELECT md5(substr(text, 1, 40)) AS key_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,

    "q27_minhash" -> {
      val mins = (0 until 8).map(j => s"min(${Stable.duckFamilyHash("sh", j)}) AS m$j").mkString(", ")
      val unpivot = (0 until 8).map(j =>
        s"SELECT doc_id, CAST($j AS BIGINT) AS sig_idx, m$j AS minhash FROM mh").mkString("\nUNION ALL ")
      s"""WITH $DuckToks,
         |${duckShingleHashes()},
         |mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)
         |$unpivot""".stripMargin
    },

    "q28_lsh_dedup" -> {
      val mins = (0 until 8).map(j => s"min(${Stable.duckFamilyHash("sh", j)}) AS m$j").mkString(", ")
      val bands = (0 until 4).map { bnd =>
        s"SELECT doc_id, $bnd AS b, ${H(s"concat_ws(',', '$bnd', CAST(m${2 * bnd} AS VARCHAR), CAST(m${2 * bnd + 1} AS VARCHAR))")} AS bk FROM mh"
      }.mkString("\n  UNION ALL ")
      s"""WITH $DuckToks,
         |${duckShingleHashes()},
         |shsets AS (SELECT doc_id, list_distinct(list(sh)) AS s FROM sh GROUP BY doc_id),
         |mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bands),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
         |  FROM bands a JOIN bands c ON a.b = c.b AND a.bk = c.bk AND a.doc_id < c.doc_id)
         |SELECT id1, id2,
         |  CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE) AS jaccard
         |FROM cand JOIN shsets x ON x.doc_id = id1 JOIN shsets y ON y.doc_id = id2
         |WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE) >= 0.5""".stripMargin
    },

    "q29_simhash" ->
      s"""WITH $DuckToks,
         |th AS (
         |  SELECT doc_id, ${H("w")} AS h
         |  FROM (SELECT doc_id, unnest(ts) AS w FROM toks)),
         |bits AS (
         |  SELECT doc_id, j,
         |    sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS c
         |  FROM th, generate_series(0, 31) g(j)
         |  GROUP BY doc_id, j)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id""".stripMargin,

    "q30_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_dot_product(qv, cv) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM q, c WHERE query_id <> neighbor_id)
        |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                              ORDER BY sim DESC, neighbor_id ASC) AS rn
        |  FROM scored)
        |WHERE rn <= 5""".stripMargin,

    // q52: the whole planted-clone + simhash + banding + Hamming-verify
    // chain in SQL (q29's simhash CTEs over the cloned corpus, band values
    // by bit-shift, bucket self-join, bit_count(xor) verify).
    "q52_simhash_near_dup" ->
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 10),
         |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM u),
         |th AS (
         |  SELECT doc_id, ${H("w")} AS h
         |  FROM (SELECT doc_id, unnest(ts) AS w FROM toks)),
         |bits AS (
         |  SELECT doc_id, j,
         |    sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS c
         |  FROM th, generate_series(0, 59) g(j)
         |  GROUP BY doc_id, j),
         |sh AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, b, (simhash >> (b * 15)) & 32767 AS bval
         |  FROM sh, generate_series(0, 3) g(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
         |  FROM banded a JOIN banded c ON a.b = c.b AND a.bval = c.bval
         |                             AND a.doc_id < c.doc_id)
         |SELECT id1, id2, CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |FROM cand JOIN sh x ON x.doc_id = id1 JOIN sh y ON y.doc_id = id2
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin,

    // q222: q52's chain widened — both md5 halves vote independent
    // 60-bit parts, bands 0-1 from part 0 / 2-3 from part 1 at 25 bits,
    // hamming summed over both parts.
    "q222_simhash_wide" ->
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 10),
         |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM u),
         |tw AS (SELECT doc_id, unnest(ts) AS w FROM toks),
         |th AS (
         |  SELECT doc_id, 0 AS part, ${H("w")} AS h FROM tw
         |  UNION ALL
         |  SELECT doc_id, 1, ${Stable.duckHash64Hi("w")} FROM tw),
         |bits AS (
         |  SELECT doc_id, part, j,
         |    sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS c
         |  FROM th, generate_series(0, 59) g(j)
         |  GROUP BY 1, 2, 3),
         |sh AS (
         |  SELECT doc_id, part,
         |    CAST(sum(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sig
         |  FROM bits GROUP BY 1, 2),
         |banded AS (
         |  SELECT doc_id, part * 2 + b AS band,
         |         (sig >> (b * 25)) & ((CAST(1 AS BIGINT) << 25) - 1) AS bval
         |  FROM sh, generate_series(0, 1) g(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
         |  FROM banded a JOIN banded c ON a.band = c.band AND a.bval = c.bval
         |                             AND a.doc_id < c.doc_id),
         |ham AS (
         |  SELECT id1, id2,
         |    CAST(sum(bit_count(xor(x.sig, y.sig))) AS BIGINT) AS hamming
         |  FROM cand JOIN sh x ON x.doc_id = id1
         |            JOIN sh y ON y.doc_id = id2 AND y.part = x.part
         |  GROUP BY 1, 2)
         |SELECT id1, id2, hamming FROM ham WHERE hamming <= 3""".stripMargin,

    "q31_ann_lsh" -> duckLshOracle,
    "q39_ann_ivf" -> duckIvfOracle,
    "q50_near_dup" -> duckNearDupOracle,
    "q156_triplets" -> duckTripletsOracle,
    "q55_semantic_dedup" -> duckSemanticDedupOracle,

    // q58: same planted PII, same two RE2 rules, applied in the same
    // order.
    "q58_redact" -> {
      val aug = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@mail.example.com ref ' || CAST(doc_id * 1000003 + 777777 AS VARCHAR)"
      val red = s"regexp_replace(regexp_replace($aug, " +
        """'[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'), """ +
        "'[0-9]{6,}', '<num>', 'g')"
      s"""SELECT doc_id, $red AS clean, CAST(len($red) AS BIGINT) AS n_chars
         |FROM documents""".stripMargin
    },

    // q57: shingle hashes once over all docs (benchmark ⊆ corpus), the
    // benchmark's pooled distinct hashes, distinct-overlap count per doc.
    "q57_decontaminate" ->
      s"""WITH $DuckToks,
         |${duckShingleHashes()},
         |bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 41 = 0),
         |hits AS (SELECT s.doc_id, count(DISTINCT s.sh) AS n_hits
         |         FROM sh s JOIN bsh USING (sh) GROUP BY s.doc_id)
         |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits FROM hits
         |WHERE n_hits >= 2""".stripMargin,

    // q89: q62's quantization CTEs + q55's seeded centroid sample, then
    // BOTH Lloyd rounds replayed — round-1 assignment (the q39/q55
    // rn=1 pattern), integer component sums/counts, refined centroid
    // s/n (one double division, empty clusters keep the sampled
    // centroid), round-2 assignment against the refined quantizer, and
    // the final integer statistics. Everything that crosses engines is
    // an integer or a single-division rational — hash-exact.
    "q89_kmeans_refine" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |sc AS (SELECT vec_id, v,
         |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS qscale FROM e),
         |q AS (SELECT vec_id,
         |  CASE WHEN qscale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
         |       ELSE list_transform(v, x -> floor(x / qscale + 0.5)) END AS qv
         |  FROM sc),
         |h AS (SELECT vec_id, v, ${Stable.duckSeededHash(42, "vec_id")} AS hh FROM e),
         |cent AS (SELECT v AS cv, row_number() OVER (ORDER BY hh) - 1 AS cid
         |         FROM (SELECT * FROM h ORDER BY hh LIMIT 16)),
         |sims1 AS (SELECT q.vec_id, q.qv, c.cid, ${duckCosine("q.qv", "c.cv")} AS sim
         |          FROM q, cent c),
         |a1 AS (SELECT vec_id, qv, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY sim DESC, cid ASC) AS rn FROM sims1)
         |  WHERE rn = 1),
         |st1 AS (SELECT cid, i - 1 AS pos, count(*) AS n, sum(qv[i]) AS s
         |        FROM (SELECT cid, qv, unnest(generate_series(1, len(qv))) AS i FROM a1)
         |        GROUP BY cid, i),
         |c2 AS (SELECT cid, list(s / CAST(n AS DOUBLE) ORDER BY pos) AS cv2
         |       FROM st1 GROUP BY cid),
         |c2f AS (SELECT cid, cv2 FROM c2
         |        UNION ALL
         |        SELECT cid, cv AS cv2 FROM cent
         |        WHERE cid NOT IN (SELECT cid FROM c2)),
         |sims2 AS (SELECT q.vec_id, q.qv, c.cid, ${duckCosine("q.qv", "c.cv2")} AS sim
         |          FROM q, c2f c),
         |a2 AS (SELECT vec_id, qv, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY sim DESC, cid ASC) AS rn FROM sims2)
         |  WHERE rn = 1)
         |SELECT CAST(cid AS BIGINT) AS cid, CAST(i - 1 AS BIGINT) AS pos,
         |  count(*) AS n, CAST(sum(qv[i]) AS BIGINT) AS s
         |FROM (SELECT cid, qv, unnest(generate_series(1, len(qv))) AS i FROM a2)
         |GROUP BY cid, i""".stripMargin,

    // q88: q62's quantization CTEs over the planted union, then the
    // broadcast-threshold semantics as the same integer compare —
    // 100·dot² >= 81·|a|²·|b|² with dot >= 0 and positive norms; every
    // intermediate is an integer below 2^53, so the double arithmetic
    // is exact on both engines.
    "q88_decontaminate_semantic" ->
      s"""WITH u AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS vec_id,
         |         list_prepend(CAST(embedding[1] * 1.01 AS REAL), embedding[2:]) AS embedding
         |  FROM embeddings WHERE vec_id % 37 = 0),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM u),
         |sc AS (SELECT vec_id, v,
         |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS qscale FROM e),
         |q AS (SELECT vec_id,
         |  CASE WHEN qscale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
         |       ELSE list_transform(v, x -> floor(x / qscale + 0.5)) END AS qv
         |  FROM sc),
         |bench AS (SELECT vec_id AS bid, qv AS bv FROM q
         |          WHERE vec_id % 37 = 0 AND vec_id < 1000000),
         |hits AS (
         |  SELECT c.vec_id, count(*) AS n_hits
         |  FROM q c, bench b
         |  WHERE list_dot_product(c.qv, c.qv) > 0
         |    AND list_dot_product(b.bv, b.bv) > 0
         |    AND list_dot_product(c.qv, b.bv) >= 0
         |    AND 100 * list_dot_product(c.qv, b.bv) * list_dot_product(c.qv, b.bv)
         |     >= 81 * list_dot_product(c.qv, c.qv) * list_dot_product(b.bv, b.bv)
         |  GROUP BY c.vec_id)
         |SELECT vec_id, CAST(n_hits AS BIGINT) AS n_hits FROM hits""".stripMargin,

    // q87: q57's CTEs + the Bloom semantics re-derived in SQL — the
    // benchmark grams' 4 family-hash positions mod 2^17 form the bit
    // set; a corpus gram hits iff ALL 4 of its positions are set
    // (count(*) = 4 over the position join — a j,j' position collision
    // contributes two rows, exactly like two true bit tests); docs with
    // >= 2 distinct hitting grams. Deterministic false positives fall
    // out of the same arithmetic, so the compare stays hash-exact.
    "q87_decontaminate_bloom" -> {
      val m = 1 << 17
      val benchPos = (0 until 4).map(j =>
        s"SELECT (${Stable.duckFamilyHash("sh", 200 + j)}) % $m AS p FROM bsh").mkString("\n  UNION ALL ")
      val candPos = (0 until 4).map(j =>
        s"SELECT doc_id, sh, (${Stable.duckFamilyHash("sh", 200 + j)}) % $m AS p FROM csh").mkString("\n  UNION ALL ")
      s"""WITH $DuckToks,
         |${duckShingleHashes()},
         |bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 41 = 0),
         |bpos AS (SELECT DISTINCT p FROM (
         |  $benchPos)),
         |csh AS (SELECT DISTINCT doc_id, sh FROM sh),
         |cand AS (
         |  $candPos),
         |hitg AS (SELECT doc_id, sh FROM cand JOIN bpos USING (p)
         |         GROUP BY doc_id, sh HAVING count(*) = 4),
         |hits AS (SELECT doc_id, count(*) AS n_hits FROM hitg GROUP BY doc_id)
         |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits FROM hits
         |WHERE n_hits >= 2""".stripMargin
    },

    // q56: q21's token rows (same dict/BOS/EOS/UNK CTEs), global position
    // by (doc_id, pos) — the window form of the engine's prefix sum —
    // then per-512-sequence summary facts.
    "q56_pack_tokens" ->
      s"""WITH $DuckToks,
         |counted AS (
         |  SELECT word, count(*) AS cnt
         |  FROM (SELECT unnest(ts) AS word FROM toks) GROUP BY word
         |  ORDER BY cnt DESC, word ASC LIMIT 50),
         |dict AS (
         |  SELECT word, row_number() OVER (ORDER BY cnt DESC, word ASC) + 2 AS token_id
         |  FROM counted),
         |expl AS (
         |  SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM toks),
         |tokrows AS (
         |  SELECT e.doc_id, CAST(e.i AS BIGINT) AS pos,
         |    CAST(coalesce(d.token_id, 2) AS BIGINT) AS token_id
         |  FROM (SELECT doc_id, i, ts[i] AS word FROM expl) e LEFT JOIN dict d USING (word)
         |  UNION ALL SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM toks
         |  UNION ALL SELECT doc_id, CAST(len(ts) + 1 AS BIGINT), CAST(1 AS BIGINT) FROM toks),
         |g AS (SELECT token_id, row_number() OVER (ORDER BY doc_id, pos) - 1 AS gpos
         |      FROM tokrows),
         |p AS (SELECT gpos // 512 AS seq_id, gpos % 512 AS lp, token_id FROM g)
         |SELECT CAST(seq_id AS BIGINT) AS seq_id, CAST(count(*) AS BIGINT) AS n_toks,
         |  min_by(token_id, lp) AS first_tok, max_by(token_id, lp) AS last_tok,
         |  CAST(sum(token_id) AS BIGINT) AS tok_sum
         |FROM p GROUP BY seq_id""".stripMargin,
    "q51_curation" -> duckCurationOracle,
    "q59_full_curation" -> duckFullCurationOracle,
    "q60_incremental_admit" -> duckAdmitOracle,
    "q190_admit_evolution" -> duckAdmitEvolutionOracle,

    // q191: the same closed-form card; `//` is integer division on the
    // BIGINT-cast sums (HUGEINT sums cast at the CTE edge — the q72
    // lesson).
    "q191_pack_efficiency" ->
      s"""WITH $DuckToks,
         |t AS (SELECT
         |  CAST(sum(CASE WHEN len(ts) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
         |  CAST(sum(len(ts)) AS BIGINT) AS total_tokens FROM toks),
         |l AS (SELECT CAST(unnest([128, 256, 512]) AS BIGINT) AS seq_len),
         |c AS (SELECT n_docs, total_tokens, seq_len,
         |        (total_tokens + seq_len - 1) // seq_len AS n_sequences
         |      FROM t, l)
         |SELECT n_docs, total_tokens, seq_len, n_sequences,
         |  n_sequences * seq_len - total_tokens AS pad_tokens,
         |  CASE WHEN n_sequences > 0
         |       THEN ((n_sequences * seq_len - total_tokens) * 1000000)
         |              // (n_sequences * seq_len)
         |       ELSE 0 END AS waste_ppm
         |FROM c""".stripMargin,
    "q61_curation_report" -> duckReportOracle,
    "q67_published_curation" -> duckPublishedCurationOracle,
    "q68_published_report" -> duckPublishedReportOracle,
    "q70_simhash_admit" -> duckSimhashAdmitOracle,
    "q71_dedup_spans" -> duckDedupSpansOracle,
    "q72_classifier_gate" -> duckClassifierGateOracle,
    "q73_refined_curation" -> duckRefinedCurationOracle,
    "q74_cluster_dedup" -> duckClusterDedupOracle,
    "q75_perplexity_gate" -> duckPerplexityOracle,
    "q76_perplexity_buckets" -> duckPerplexityBucketsOracle,
    "q77_jaccard_join" -> duckJaccardJoinOracle,
    "q78_ann_index" -> duckIvfOracle("vec_id % 20 = 3"),
    "q90_ann_index_refined" -> duckIvfRefinedOracle("vec_id % 20 = 7"),

    // q92: tf per (doc, term), df over the collapsed pairs, N = docs
    // with >= 1 token, score = tf * (ilog2(N) - ilog2(df)) — every
    // value an exact integer, the rank window replayed verbatim.
    "q92_tfidf_terms" ->
      s"""WITH $DuckToks,
         |tf AS (SELECT doc_id, w AS term, count(*) AS tf
         |       FROM (SELECT doc_id, unnest(ts) AS w FROM toks) GROUP BY 1, 2),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM (SELECT DISTINCT doc_id FROM tf)),
         |sc AS (SELECT t.doc_id, t.term, t.tf,
         |         t.tf * ((length(bin(nn.n)) - 1) - (length(bin(d.df)) - 1)) AS score_q
         |       FROM tf t JOIN dfx d USING (term), nn)
         |SELECT doc_id, CAST(rn AS BIGINT) AS rank, term, tf,
         |  CAST(score_q AS BIGINT) AS score_q
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                                  ORDER BY score_q DESC, term ASC) AS rn
         |      FROM sc)
         |WHERE rn <= 3""".stripMargin,

    // q91: neighbors rank by (sim DESC, label ASC) — the TopK tie-break
    // key is the label — and the vote breaks count ties to the smaller
    // label; both row_number chains replay that exactly.
    "q91_knn_propagate" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings),
         |lab AS (SELECT vec_id AS lid, v AS lv, CAST(label AS BIGINT) AS lab
         |        FROM e WHERE vec_id % 10 = 0),
         |unl AS (SELECT vec_id, v FROM e WHERE vec_id % 10 <> 0),
         |scored AS (SELECT u.vec_id, l.lab, ${duckCosine("u.v", "l.lv")} AS sim
         |           FROM unl u, lab l WHERE u.vec_id <> l.lid),
         |top AS (SELECT vec_id, lab FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY sim DESC, lab ASC) AS rn FROM scored)
         |  WHERE rn <= 5),
         |votes AS (SELECT vec_id, lab, count(*) AS n_votes FROM top GROUP BY 1, 2)
         |SELECT vec_id, lab AS label_pred, n_votes FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY n_votes DESC, lab ASC) AS rn FROM votes)
         |WHERE rn = 1""".stripMargin,
    // q219: the same bucket rebuild as q217/q218, per-(table, bucket)
    // counts, histogram over the bucket table, integer pair-work shares.
    "q219_occupancy_card" -> {
      val buckets = duckBucketUnion(
        Ann.hyperplanes(42, tables = 4, planes = 8, dim = 64), from = "ev")
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |b AS ($buckets),
         |occ AS (SELECT tbl, bucket, CAST(count(*) AS BIGINT) AS occupancy
         |        FROM b GROUP BY 1, 2),
         |hist AS (SELECT occupancy, CAST(count(*) AS BIGINT) AS n_buckets,
         |           CAST(occupancy * (occupancy - 1) // 2 * count(*) AS BIGINT) AS p
         |         FROM occ GROUP BY 1),
         |tot AS (SELECT CAST(sum(p) AS BIGINT) AS tp FROM hist)
         |SELECT occupancy, n_buckets,
         |  CAST(CASE WHEN tp <= 0 THEN 0 ELSE p * 1000000 // tp END AS BIGINT)
         |    AS pair_share_ppm
         |FROM hist, tot""".stripMargin
    },

    // q220: the auto-tuned banding, cross-engine. The oracle re-derives
    // the plane count from count(*) with the SAME integer-exact rule as
    // [[Ann.planesForOccupancy]] (smallest p in [1,30] with
    // ceil(n/16) <= 2^p — no float log on either engine), then selects
    // that prefix of the 24 inlined hyperplane rows per table (24
    // planes cover corpora to 16·2^24 ≈ 268M rows; the error() guard
    // fires loudly past that instead of silently under-banding). Same
    // candidate/rerank chain as the q31 oracle. Because BOTH engines
    // derive the plane count from the data, this one query is
    // hash-exact at every scale factor with a DIFFERENT banding at
    // each — the enforcement evidence for the tuning rule.
    "q220_auto_banded_topk" -> {
      val hp = Ann.hyperplanes(42, tables = 2, planes = 24, dim = 64)
      val vals = (for (t <- hp.indices; p <- hp(t).indices) yield
        s"($t, $p, ${hp(t)(p).mkString("[", ",", "]")})").mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |np AS (SELECT CASE WHEN coalesce(min(pp), 30) > 24
         |         THEN CAST(error('q220 oracle inlines 24 planes; corpus needs more') AS BIGINT)
         |         ELSE coalesce(min(pp), 30) END AS p
         |       FROM range(1, 31) t(pp)
         |       WHERE (SELECT (count(*) - 1) // 16 + 1 FROM e) <= (1::BIGINT << pp)),
         |hp(tbl, pp, pv) AS (VALUES $vals),
         |b0 AS (SELECT e.vec_id, h.tbl,
         |         sum(CASE WHEN list_dot_product(e.v, h.pv) >= 0
         |                  THEN (1::BIGINT << h.pp) ELSE 0 END) AS bucket
         |       FROM e, hp h, np WHERE h.pp < np.p GROUP BY 1, 2),
         |b AS (SELECT b0.vec_id, b0.tbl, b0.bucket, e.v FROM b0 JOIN e USING (vec_id)),
         |qb AS (SELECT * FROM b WHERE vec_id < 50),
         |cand AS (SELECT DISTINCT qb.vec_id AS query_id, b.vec_id AS neighbor_id,
         |                qb.v AS qv, b.v AS cv
         |         FROM b JOIN qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
         |                       AND b.vec_id <> qb.vec_id),
         |scored AS (SELECT query_id, neighbor_id, ${duckCosine("qv", "cv")} AS sim FROM cand)
         |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                              ORDER BY sim DESC, neighbor_id ASC) AS rn
         |  FROM scored)
         |WHERE rn <= 5""".stripMargin
    },

    // q221: q218's bucket rebuild, corpus-side min(first hit table) per
    // id, cumulative coverage per tables_used — all integers.
    "q221_propagate_coverage" -> {
      val buckets = duckBucketUnion(
        Ann.hyperplanes(42, tables = 4, planes = 8, dim = 64), from = "ev")
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |b AS ($buckets),
         |lb AS (SELECT vec_id AS lid, tbl, bucket FROM b WHERE vec_id % 10 = 0),
         |cb AS (SELECT vec_id, tbl, bucket FROM b WHERE vec_id % 10 <> 0),
         |fh AS (SELECT cb.vec_id, min(cb.tbl) AS first_t
         |       FROM cb JOIN lb USING (tbl, bucket)
         |       WHERE cb.vec_id <> lb.lid GROUP BY 1),
         |pf AS (SELECT first_t, count(*) AS n_first FROM fh GROUP BY 1),
         |tot AS (SELECT count(*) AS n_corpus FROM ev WHERE vec_id % 10 <> 0)
         |SELECT CAST(tu AS BIGINT) AS tables_used,
         |  CAST(coalesce((SELECT sum(n_first) FROM pf WHERE first_t < tu), 0) AS BIGINT)
         |    AS n_covered,
         |  CAST(CASE WHEN n_corpus <= 0 THEN 0
         |    ELSE coalesce((SELECT sum(n_first) FROM pf WHERE first_t < tu), 0)
         |         * 1000000 // n_corpus END AS BIGINT) AS coverage_ppm,
         |  CAST(n_corpus AS BIGINT) AS n_corpus
         |FROM range(1, 5) t(tu), tot""".stripMargin
    },

    // q218: q91's rank/vote chains with the all-pairs CTE swapped for
    // the sign-LSH candidate join (hyperplanes inlined as literals,
    // same per-side bucket rebuild as q217).
    "q218_knn_propagate_lsh" -> {
      val buckets = duckBucketUnion(
        Ann.hyperplanes(42, tables = 4, planes = 8, dim = 64), from = "ev")
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings),
         |b AS ($buckets),
         |lb AS (SELECT b.vec_id AS lid, b.v AS lv, CAST(ev.label AS BIGINT) AS lab, tbl, bucket
         |       FROM b JOIN ev USING (vec_id) WHERE ev.vec_id % 10 = 0),
         |cb AS (SELECT vec_id, v, tbl, bucket FROM b WHERE vec_id % 10 <> 0),
         |cand AS (SELECT DISTINCT cb.vec_id, lb.lid, lb.lab, cb.v AS cv, lb.lv
         |         FROM cb JOIN lb USING (tbl, bucket) WHERE cb.vec_id <> lb.lid),
         |scored AS (SELECT vec_id, lab, ${duckCosine("cv", "lv")} AS sim FROM cand),
         |top AS (SELECT vec_id, lab FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY sim DESC, lab ASC) AS rn FROM scored)
         |  WHERE rn <= 5),
         |votes AS (SELECT vec_id, lab, count(*) AS n_votes FROM top GROUP BY 1, 2)
         |SELECT vec_id, lab AS label_pred, n_votes FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY n_votes DESC, lab ASC) AS rn FROM votes)
         |WHERE rn = 1""".stripMargin
    },

    "q79_ccnet_curation" -> duckCCNetOracle,
    "q80_ccnet_report" -> duckCCNetReportOracle,
    "q82_embedding_admit" -> duckEmbeddingAdmitOracle,
    "q83_curriculum_pack" -> duckCurriculumPackOracle,
    "q84_dsir_select" -> duckDsirOracle,
    "q85_sharded_dedup" -> duckShardedDedupOracle,
    "q86_fineweb_curation" -> duckFineWebOracle,

    // q69: q64's acceptance CTEs → q56's dictionary/tokenize/pack chain
    // over the accepted docs (carrying doc_id through the packing so the
    // per-sequence distinct-doc count checks the spans column) → q32's
    // split CASE on seededHash(7, seq_id).
    "q69_mixture_artifact" -> {
      def side(pred: String, name: String, share: String): String =
        s"""SELECT doc_id FROM (SELECT * FROM n WHERE $pred) d,
           |     (SELECT sum(n_tokens) AS t FROM n WHERE $pred)
           |WHERE ${Stable.duckSeededHash(13, s"'$name'", "doc_id")} % 1000000 <
           |  CAST(floor(least(1.0, (30000.0 * $share) / CAST(t AS DOUBLE)) * 1000000) AS BIGINT)""".stripMargin
      s"""WITH toks0 AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts FROM documents),
         |n AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks0),
         |acc AS (
         |  ${side("doc_id % 3 = 0", "web", "0.3")}
         |  UNION ALL
         |  ${side("doc_id % 3 <> 0", "books", "0.7")}),
         |toks AS (SELECT t.doc_id, t.ts FROM toks0 t JOIN acc USING (doc_id)),
         |counted AS (
         |  SELECT word, count(*) AS cnt
         |  FROM (SELECT unnest(ts) AS word FROM toks) GROUP BY word
         |  ORDER BY cnt DESC, word ASC LIMIT 50),
         |dict AS (
         |  SELECT word, row_number() OVER (ORDER BY cnt DESC, word ASC) + 2 AS token_id
         |  FROM counted),
         |expl AS (
         |  SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM toks),
         |tokrows AS (
         |  SELECT e.doc_id, CAST(e.i AS BIGINT) AS pos,
         |    CAST(coalesce(d.token_id, 2) AS BIGINT) AS token_id
         |  FROM (SELECT doc_id, i, ts[i] AS word FROM expl) e LEFT JOIN dict d USING (word)
         |  UNION ALL SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM toks
         |  UNION ALL SELECT doc_id, CAST(len(ts) + 1 AS BIGINT), CAST(1 AS BIGINT) FROM toks),
         |g AS (SELECT doc_id, token_id, row_number() OVER (ORDER BY doc_id, pos) - 1 AS gpos
         |      FROM tokrows),
         |p AS (SELECT doc_id, gpos // 512 AS seq_id, gpos % 512 AS lp, token_id FROM g),
         |s AS (SELECT CAST(seq_id AS BIGINT) AS seq_id, CAST(count(*) AS BIGINT) AS n_toks,
         |  min_by(token_id, lp) AS first_tok, max_by(token_id, lp) AS last_tok,
         |  CAST(sum(token_id) AS BIGINT) AS tok_sum,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM p GROUP BY seq_id)
         |SELECT CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'valid'
         |            ELSE 'test' END AS split,
         |  seq_id, n_toks, first_tok, last_tok, tok_sum, n_docs
         |FROM (SELECT *, ${Stable.duckSeededHash(7, "seq_id")} % 1000 AS b FROM s)""".stripMargin
    },

    // Quantization in SQL: same maxAbs/127 scale, same floor(x/s + 0.5)
    // rounding, cosine over the quantized (exact-integer) lists.
    "q62_ann_quantized" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |sc AS (SELECT vec_id, v,
         |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS qscale FROM e),
         |q AS (SELECT vec_id,
         |  CASE WHEN qscale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
         |       ELSE list_transform(v, x -> floor(x / qscale + 0.5)) END AS qv
         |  FROM sc),
         |corp AS (SELECT vec_id AS neighbor_id, qv AS cv FROM q),
         |qry AS (SELECT vec_id AS query_id, qv AS qv2 FROM q WHERE vec_id < 50),
         |scored AS (SELECT query_id, neighbor_id, ${duckCosine("qv2", "cv")} AS sim
         |           FROM corp, qry WHERE neighbor_id <> query_id)
         |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                              ORDER BY sim DESC, neighbor_id ASC) AS rn
         |  FROM scored)
         |WHERE rn <= 5""".stripMargin,

    // Corpus-wide line counts scrub the planted boilerplate; string_agg
    // ORDER BY the line index mirrors the array_sort reassembly.
    "q66_line_dedup" ->
      """WITH d AS (SELECT doc_id,
        |  text || chr(10) || 'all rights reserved' ||
        |    CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'subscribe today'
        |         ELSE chr(10) || 'follow us' END AS text
        |  FROM documents),
        |sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, i - 1 AS li, ls[i] AS ln
        |      FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM sp)),
        |c AS (SELECT ln, count(*) AS n FROM l GROUP BY ln),
        |kept AS (SELECT doc_id, li, l.ln FROM l JOIN c USING (ln) WHERE n <= 1)
        |SELECT doc_id, string_agg(ln, chr(10) ORDER BY li) AS clean_text
        |FROM kept GROUP BY doc_id""".stripMargin,

    // gram counts key on the same md5-derived hash the Spark side
    // shuffles (the no-shingle-strings rule), so counts agree even on a
    // collision
    "q65_repetition" ->
      s"""WITH $DuckToks,
         |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
         |         i -> ts[i] || ' ' || ts[i + 1])) AS g
         |       FROM toks WHERE len(ts) >= 2),
         |c2 AS (SELECT doc_id, ${H("g")} AS gh, count(*) AS c FROM g2 GROUP BY 1, 2),
         |f2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
         |         CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_2gram_frac
         |       FROM c2 GROUP BY doc_id),
         |g3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 2),
         |         i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS g
         |       FROM toks WHERE len(ts) >= 3),
         |c3 AS (SELECT doc_id, ${H("g")} AS gh, count(*) AS c FROM g3 GROUP BY 1, 2),
         |f3 AS (SELECT doc_id,
         |         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) /
         |           CAST(sum(c) AS DOUBLE) AS dup_3gram_frac
         |       FROM c3 GROUP BY doc_id)
         |SELECT doc_id, n_2grams, top_2gram_frac, dup_3gram_frac
         |FROM f2 JOIN f3 USING (doc_id)""".stripMargin,

    // Mixing rates recomputed from DuckDB's own token sums with the same
    // (budget * share) / total double association, floored to the same
    // integer threshold.
    "q64_mix_domains" -> {
      def side(name: String, pred: String, share: String): String =
        s"""SELECT '$name' AS source, doc_id, n_tokens
           |FROM (SELECT * FROM n WHERE $pred) d,
           |     (SELECT sum(n_tokens) AS t FROM n WHERE $pred)
           |WHERE ${Stable.duckSeededHash(13, s"'$name'", "doc_id")} % 1000000 <
           |  CAST(floor(least(1.0, (30000.0 * $share) / CAST(t AS DOUBLE)) * 1000000) AS BIGINT)""".stripMargin
      s"""WITH $DuckToks,
         |n AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks)
         |${side("web", "doc_id % 3 = 0", "0.3")}
         |UNION ALL
         |${side("books", "doc_id % 3 <> 0", "0.7")}""".stripMargin
    },

    // q81: q64's acceptance CTEs with sqrt-derived shares — the weight
    // sum adds in the Scala seq order (left-assoc, like the driver), and
    // every rate/threshold repeats q64's exact double/floor sequence.
    "q81_mix_temperature" -> {
      def side(name: String, pred: String, tcol: String): String =
        s"""SELECT '$name' AS source, doc_id, n_tokens FROM n, w
           |WHERE ($pred) AND ${Stable.duckSeededHash(13, s"'$name'", "doc_id")} % 1000000 <
           |  CAST(floor(least(1.0, (20000.0 * (sqrt($tcol) / ws)) / $tcol) * 1000000) AS BIGINT)""".stripMargin
      s"""WITH $DuckToks,
         |n AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks),
         |tw AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM n WHERE doc_id % 7 < 4),
         |tb AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM n WHERE doc_id % 7 IN (4, 5)),
         |tc AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM n WHERE doc_id % 7 = 6),
         |w AS (SELECT tw.t AS dw, tb.t AS db, tc.t AS dc,
         |        sqrt(tw.t) + sqrt(tb.t) + sqrt(tc.t) AS ws
         |      FROM tw, tb, tc)
         |${side("web", "doc_id % 7 < 4", "dw")}
         |UNION ALL
         |${side("books", "doc_id % 7 IN (4, 5)", "db")}
         |UNION ALL
         |${side("code", "doc_id % 7 = 6", "dc")}""".stripMargin
    },

    // q43's prefix-sum packing, finished as per-(seq, doc) local spans.
    "q63_pack_doc_spans" ->
      s"""WITH $DuckToks,
         |d2 AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks),
         |o AS (SELECT doc_id, n_tokens,
         |        CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |          - n_tokens AS BIGINT) AS off
         |      FROM d2),
         |b AS (SELECT doc_id, n_tokens, off,
         |        CAST(off // 512 AS BIGINT) AS fs,
         |        CAST((off + n_tokens - 1) // 512 AS BIGINT) AS ls
         |      FROM o WHERE n_tokens > 0),
         |e AS (SELECT doc_id, off, n_tokens,
         |        unnest(generate_series(fs, ls)) AS seq_id FROM b)
         |SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
         |  greatest(off - seq_id * 512, 0) AS span_start,
         |  least(off + n_tokens - seq_id * 512, 512) AS span_end
         |FROM e""".stripMargin,

    "q46_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       ' +', ' ', 'g')) AS norm,
        |  CAST(len(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       ' +', ' ', 'g'))) AS BIGINT) AS n_norm_chars
        |FROM documents""".stripMargin,

    "q43_pack_sequences" ->
      s"""WITH $DuckToks,
         |d AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks),
         |o AS (SELECT doc_id, n_tokens,
         |        sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |          - n_tokens AS tok_offset
         |      FROM d)
         |SELECT doc_id, n_tokens, CAST(tok_offset AS BIGINT) AS tok_offset,
         |  CAST(tok_offset // 512 AS BIGINT) AS first_seq,
         |  CAST(CASE WHEN n_tokens > 0 THEN (tok_offset + n_tokens - 1) // 512
         |       ELSE tok_offset // 512 END AS BIGINT) AS last_seq
         |FROM o""".stripMargin,

    // Window(offset=-1, sw=2, tw=2, overlapping): ti0 = -1, i0 = 1,
    // span = 2; 0-based starts i in [1, len-2] -> source = ts[i+1..i+2]
    // (1-based), target = ts[i..i+1], window_idx = i - 1.
    "q40_window_slide" ->
      s"""WITH $DuckToks,
         |e AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i
         |      FROM toks WHERE len(ts) >= 3)
         |SELECT doc_id, CAST(i - 1 AS BIGINT) AS window_idx,
         |  array_to_string(ts[i+1:i+2], ' ') AS source,
         |  array_to_string(ts[i:i+1], ' ') AS target
         |FROM e""".stripMargin
  )
}
