package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Stable
import graft.sources.{Store, StoreKind}

/** Text path: tokenizer + dictionary lookup (reference: fuel/datasets/
  * text.py:7-144 — TextFile with BOS/EOS/UNK), plus the text-analysis
  * operators a large-scale training-data pipeline needs (language ID,
  * quality scoring, token counting, fingerprinting). Everything is
  * Catalyst-built-in (split/transform/filter/aggregate + md5 hashing via
  * [[Stable]]) — codegen'd, no UDFs, and bit-reproducible by the DuckDB
  * oracle.
  */
object TextOps {

  /** Whitespace word tokenization; empty tokens dropped.
    * DuckDB: `list_filter(string_split(x, ' '), t -> len(t) > 0)`. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Character-level tokenization (fuel TextFile level='character'). */
  def charTokens(text: Column): Column =
    filter(split(text, ""), t => length(t) > 0)

  /** BOS/EOS/UNK ids, fuel-style (fuel/datasets/text.py:30-44: the dict
    * carries `<S>`, `</S>`, `<UNK>`). Word ids start at [[FirstWordId]]. */
  val BosId = 0L
  val EosId = 1L
  val UnkId = 2L
  val FirstWordId = 3L

  /** Top-`topK` dictionary by (count DESC, word ASC): (word, token_id) with
    * ids from [[FirstWordId]]. The rank runs AFTER the top-K truncation (on
    * `topK` rows) and uses the distributed sort + index scan from
    * [[graft.sources.Indexed]] rather than an unpartitioned rank window —
    * no single-partition WindowExec anywhere in the dictionary build. */
  def buildDictionary(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    val counted = df
      .select(explode_outer(tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(topK)
    graft.sources.Indexed
      .withIdx(counted, Seq(col("cnt").desc, col("word").asc), "__rank")
      .select(col("word"), (col("__rank") + FirstWordId).as("token_id"))
  }

  /** fuel's sentence-boundary token spellings (fuel/datasets/text.py:30-44:
    * the dictionary itself carries `<S>`/`</S>`, so boundary tokens are
    * in-band words — mirrored here). */
  val BosWord = "<S>"
  val EosWord = "</S>"

  /** Tokenize to (idCol, pos, token_id) rows with optional BOS at pos 0 and
    * EOS at the end (fuel allows bos_token=None — text.py:30-44), dictionary
    * lookup with UNK fallback. The dictionary join is a broadcast
    * (dictionaries are bounded by construction). `tokenizer` swaps word- for
    * character-level.
    *
    * Single scan: BOS/EOS ride in-band as [[BosWord]]/[[EosWord]] prepended
    * and appended to the token array in the same projection, then ONE
    * posexplode + broadcast join — positions fall out naturally. (The first
    * version unioned two extra `df.select`s for the boundary rows: three
    * scans of the corpus where one suffices.)
    *
    * Boundary ids resolve THROUGH the dictionary, like the reference
    * (text.py:30-44 looks up `dictionary[bos_token]`): a dict entry for
    * [[BosWord]]/[[EosWord]] wins; the `bos`/`eos` ids are the fallback
    * when the dict has no such entry. A literal `<S>` occurring in text
    * therefore maps to whatever id the dictionary assigns it. */
  def tokenize(df: DataFrame, idCol: String, textCol: String, dict: DataFrame,
      bos: Option[Long] = Some(BosId), eos: Option[Long] = Some(EosId),
      unk: Long = UnkId, tokenizer: Column => Column = tokens): DataFrame = {
    val base = tokenizer(col(textCol))
    val withB = bos.fold(base)(_ => concat(array(lit(BosWord)), base))
    val withBE = eos.fold(withB)(_ => concat(withB, array(lit(EosWord))))
    val looked = coalesce(col("token_id").cast("bigint"), lit(unk))
    val dictId = col("token_id").cast("bigint")
    val withEosCase = eos.fold(looked)(id =>
      when(col("word") === EosWord, coalesce(dictId, lit(id))).otherwise(looked))
    val withBosCase = bos.fold(withEosCase)(id =>
      when(col("word") === BosWord, coalesce(dictId, lit(id))).otherwise(withEosCase))
    df.select(col(idCol), posexplode(withBE).as(Seq("p", "word")))
      .join(broadcast(dict), Seq("word"), "left")
      .select(col(idCol), col("p").cast("bigint").as("pos"), withBosCase.as("token_id"))
  }

  // ---------------------------------------------------------------- analysis

  /** Deterministic per-language stopword profiles for the heuristic
    * language ID. Tiny on purpose: the mechanism (profile match scoring)
    * is the operator; swap profiles for real corpora. */
  val StopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "fr" -> Seq("le", "la", "de", "et", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo"))

  /** The profile order langId scores in (sorted lang codes). */
  private val ProfileLangs: Seq[String] = StopwordProfiles.keys.toSeq.sorted

  /** The pooled stopword list qualityColumns' stopword_ratio counts. */
  private val AllStopwords: Seq[String] =
    StopwordProfiles.values.flatten.toSeq.distinct.sorted

  /** THE canonical gate word-set object: the 5 language profiles (sorted
    * by lang) + the pooled stopword set, as ONE array instance.
    * [[graft.functions.TokenStats]] counts all of them (plus the
    * non-alpha tally) in a single codegen pass, and the single instance
    * is what lets codegen subexpression elimination share that pass
    * between [[langId]] and [[qualityColumns]] in the same projection
    * (case-class equality is reference equality on the array). */
  private val GateWordSets: Array[Array[String]] =
    (ProfileLangs.map(StopwordProfiles(_).toArray) :+ AllStopwords.toArray).toArray

  /** (profile counts ++ pooled-stopword count ++ non-alpha count) of a
    * token array — one fused codegen pass; see [[GateWordSets]]. */
  private def gateCounts(toks: Column): Column =
    graft.functions.TokenStats(toks, GateWordSets)

  /** N-gram-free stopword-profile language ID: integer hit counts per
    * profile, argmax with lexicographic tie-break — fully deterministic,
    * no floats. Emits (lang_pred, lang_score). Counting runs in the
    * fused [[graft.functions.TokenStats]] codegen pass (the original
    * per-profile `filter(toks, ...)` HOFs were CodegenFallback —
    * interpreted per token per profile on the engine's hottest path);
    * TokenStatsSpec asserts count-equality with the HOF form. */
  def langId(toks: Column): Seq[Column] = {
    val counts = gateCounts(toks)
    // argmax by (score DESC, lang ASC) via a sorted struct array
    val packed = array(ProfileLangs.zipWithIndex.map { case (lang, i) =>
      val s = element_at(counts, i + 1)
      struct((-s).as("neg"), lit(lang).as("lang"), s.as("score"))
    }: _*)
    val best = array_sort(packed).getItem(0)
    Seq(best.getField("lang").as("lang_pred"), best.getField("score").as("lang_score"))
  }

  /** Quality-scoring signals: token count, mean token length, stopword
    * ratio, non-alpha ratio, char count. Ratios are int/int double
    * divisions — IEEE-deterministic cross-engine. Stopword and non-alpha
    * tallies come from the same fused [[graft.functions.TokenStats]]
    * pass [[langId]] reads (shared via codegen subexpression
    * elimination when both run in one projection). */
  def qualityColumns(text: Column, toks: Column): Seq[Column] = {
    val nTok = size(toks).cast("bigint")
    val nChar = length(text).cast("bigint")
    val counts = gateCounts(toks)
    val nStop = element_at(counts, ProfileLangs.length + 1)
    val nNonAlpha = element_at(counts, ProfileLangs.length + 2)
    Seq(
      nTok.as("n_tokens"),
      nChar.as("n_chars_measured"),
      (nChar.cast("double") / nTok.cast("double")).as("mean_token_len"),
      (nStop.cast("double") / nTok.cast("double")).as("stopword_ratio"),
      (nNonAlpha.cast("double") / nTok.cast("double")).as("nonalpha_ratio"))
  }

  /** Contiguous word n-grams WITH occurrences (unlike
    * [[graft.dedup.Dedup.shingles]], which distincts for set semantics):
    * the repetition filters below need counts. Empty for docs shorter
    * than n — the `when` guard matters because Spark's `sequence(1, 0)`
    * DESCENDS instead of returning empty. */
  def ngramOccurrences(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))

  /** Repetition quality signals — the published duplicate-n-gram rules
    * (the Gopher-style corpus filters): per doc, the fraction of 2-gram
    * occurrences taken by the single most frequent 2-gram
    * (`top_2gram_frac` — boilerplate headers max this) and the fraction
    * of 3-gram occurrences whose 3-gram repeats within the doc
    * (`dup_3gram_frac` — template/listing spam maxes this). Docs with
    * fewer than 3 tokens drop (no 3-gram exists to measure).
    *
    * Scale shape: a PURE PROJECTION — every count is per-document (gram
    * occurrences never cross docs), so the whole computation runs in-row
    * as the native codegen expression
    * [[graft.functions.RepetitionStatsExpr]]: grams digested
    * incrementally, counted in a per-doc map, four aggregates from one
    * scan of it. NO shuffle at all. (The previous keyed-agg form —
    * retained in the tests as `ReferenceForms.repetitionColumnsRef`,
    * bit-equality pinned in TextDedupSpec — shuffled one row per corpus gram through two keyed
    * aggs; its first version ran two explode+agg pairs and a join.) Gram
    * hashes are the same md5 form the oracle applies, so counts agree
    * bit-for-bit even in the astronomically-unlikely collision. The
    * `__t3 > 0` filter drops docs with no 3-gram to measure (a doc with
    * exactly 2 tokens has a 2-gram but nothing for `dup_3gram_frac`).
    * Fractions are int/int double divisions, reproduced exactly by the
    * oracle (q65). */
  def repetitionColumns(df: DataFrame, idCol: String, toksCol: String): DataFrame =
    df.select(col(idCol),
        graft.functions.RepetitionStatsExpr.repetitionStats(col(toksCol)).as("__rs"))
      .filter(element_at(col("__rs"), 3) > 0)
      .select(col(idCol),
        element_at(col("__rs"), 1).as("n_2grams"),
        (element_at(col("__rs"), 2).cast("double") /
          element_at(col("__rs"), 1).cast("double")).as("top_2gram_frac"),
        (element_at(col("__rs"), 4).cast("double") /
          element_at(col("__rs"), 3).cast("double")).as("dup_3gram_frac"))

  /** TF-IDF top terms per document (keyword extraction / sparse document
    * representation): score_q = tf · idf_bits with idf QUANTIZED to
    * integer bits — idf_bits = ilog2(N) − ilog2(df), ilog2(x) =
    * length(bin(x)) − 1 — the [[Perplexity]]/[[Dsir]] rule: libm `log`
    * never enters, so every score is an exact integer on any engine.
    * N counts docs with ≥ 1 token (the tf frame's own universe — empty
    * docs can't shift every other doc's scores). Ties (quantization
    * makes them common) rank by (score_q DESC, term ASC). Output:
    * (idCol, rank, term, tf, score_q), rank ≤ k.
    *
    * Scale shape: tf is one (doc, term)-keyed agg over the exploded
    * token stream (map-side combined); df aggregates the ALREADY
    * COLLAPSED tf pairs term-keyed; the tf⋈df join shuffles (doc, term)
    * pairs keyed by term — the vocabulary can be corpus-scale, so no
    * broadcast is assumed (AQE converts the join when df fits); the doc
    * count rides in as a broadcast one-row frame (no separate driver
    * action); the final ranking is a per-doc window over the doc's own
    * distinct terms. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, toksCol: String,
      k: Int = 5): DataFrame = {
    val ilog2 = (c: Column) => (length(bin(c)) - 1).cast("bigint")
    val tf = docs.select(col(idCol), explode(col(toksCol)).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("__df"))
    val n = tf.select(col(idCol)).distinct().agg(count(lit(1)).as("__n"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score_q", col("tf") * (ilog2(col("__n")) - ilog2(col("__df"))))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol)
          .orderBy(col("score_q").desc, col("term").asc)).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("score_q"))
  }

  /** BM25 top-k retrieval — the keyword-search tier the curation loop
    * needs for query-driven decontamination and audit ("show me the
    * corpus documents matching this benchmark prompt"): for each query
    * (a small set of terms), the k best documents under BM25 with
    * k1 = 1.2, b = 0.75.
    *
    * Every score is an exact integer on any engine — the
    * [[tfidfTopTerms]]/[[Perplexity]] quantization discipline, extended
    * to BM25's length normalization:
    *   - idf quantizes to integer bits: idf = ilog2(N) − ilog2(df);
    *   - avgdl quantizes to the integer average doc length
    *     adl = T div N (T = total tokens, N = docs with ≥ 1 token —
    *     the tf frame's own universe, as in [[tfidfTopTerms]]);
    *   - the saturated-tf factor tf·(k1+1) / (tf + k1·(1−b+b·dl/adl))
    *     clears denominators at k1 = 6/5, b = 3/4: multiplying through
    *     by 10·adl gives the all-integer ratio
    *       22·tf·adl / (10·tf·adl + 3·adl + 9·dl);
    *   - the per-term score is one integer `div`:
    *       (idf · 22 · tf · adl · scale) div (10·tf·adl + 3·adl + 9·dl)
    *     so the per-(query, doc) total is a LONG sum — no float ever
    *     enters and summation order cannot matter.
    *     Overflow bound: idf ≤ 63, and adl/dl are per-doc token counts,
    *     so the numerator stays < 2^63 for any corpus whose documents
    *     (not the corpus itself) are < ~10^9 tokens at the default
    *     scale — corpus size N, T never appear in a product.
    *
    * Scale shape (the inverted-index probe): the exploded token stream
    * is filtered by a LITERAL `isin` over the bounded query vocabulary
    * INSIDE the explode's codegen stage — only postings of query terms
    * ever reach the (doc, term) agg (map-side combined), so the shuffle
    * is the candidate posting lists, never the corpus. df aggregates
    * the collapsed postings term-keyed; N/T ride in as one broadcast
    * one-row frame; the query list itself is a broadcast join; and the
    * per-query ranking is the bounded [[graft.functions.TopK]] UDAF
    * (map tasks reduce to ≤ k rows per query before the tiny shuffle) —
    * never a corpus-sized window partition. Ties rank (score_q DESC,
    * doc ASC). Output: (query_id, rank, idCol, score_q). */
  def bm25TopK(docs: DataFrame, idCol: String, toksCol: String,
      queries: Seq[(Long, Seq[String])], k: Int = 10,
      scale: Long = 10000L): DataFrame =
    bm25TopKWith(docs, bm25Scalars(docs, toksCol), idCol, toksCol, queries,
      k, scale)

  /** The corpus scalars (N docs with ≥ 1 token, T total tokens) BM25's
    * length normalization needs — one full-pass agg producing ONE row.
    * Factored out so a multi-stage retrieval loop ([[bm25PseudoFeedback]])
    * can compute it once and share it across stages instead of paying a
    * corpus tokenize pass per stage (§5: reused and expensive). */
  private[text] def bm25Scalars(docs: DataFrame, toksCol: String): DataFrame =
    docs.agg(
      coalesce(sum(when(size(col(toksCol)) > 0, 1L).otherwise(0L)), lit(0L)).as("__n"),
      coalesce(sum(size(col(toksCol)).cast("bigint")), lit(0L)).as("__t"))

  /** [[bm25TopK]] with the corpus-scalar frame injected (the PQ tier's
    * `coarsePre` discipline): callers that run BM25 more than once over
    * the same corpus pass one shared (possibly persisted) scalars frame. */
  private[text] def bm25TopKWith(docs: DataFrame, scalars: DataFrame,
      idCol: String, toksCol: String, queries: Seq[(Long, Seq[String])],
      k: Int, scale: Long): DataFrame = {
    val (qterms, termSet) = bm25Queries(docs.sparkSession, queries)
    val tf = docs
      .select(col(idCol), size(col(toksCol)).cast("bigint").as("__dl"),
        explode(col(toksCol)).as("term"))
      .filter(col("term").isin(termSet: _*))
      .groupBy(col(idCol), col("__dl"), col("term")).agg(count(lit(1)).as("tf"))
    bm25Score(tf, scalars, qterms, idCol, k, scale)
  }

  private def bm25Queries(spark: org.apache.spark.sql.SparkSession,
      queries: Seq[(Long, Seq[String])]): (DataFrame, Seq[String]) = {
    require(queries.nonEmpty, "bm25: empty query set")
    import spark.implicits._
    (queries.flatMap { case (qid, ts) => ts.distinct.map(tm => (qid, tm)) }
      .toDF("query_id", "term"),
      queries.flatMap(_._2).distinct)
  }

  /** The shared BM25 scoring tail — ONE implementation of the integer
    * arithmetic, so the live ([[bm25TopK]]) and indexed
    * ([[bm25TopKFromIndex]]) paths are bit-identical by construction.
    * `tf`: (idCol, __dl, term, tf) candidate postings; `scalars`: one
    * row (__n, __t). */
  private def bm25Score(tf: DataFrame, scalars: DataFrame, qterms: DataFrame,
      idCol: String, k: Int, scale: Long): DataFrame = {
    val ilog2 = (c: Column) => (length(bin(c)) - 1).cast("bigint")
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("__df"))
    // Collapse the corpus-scalar frame through a grouping-less max agg:
    // a no-op on its one-row contract (live path: one agg row; index
    // path: the materialized one-row *_stats parquet), but the plan now
    // PROVES the broadcast side is scalar — a FileScan alone carries no
    // row bound, so PlanSpec's nested-loop audit (and a reader of the
    // plan) would otherwise have to take the contract on faith.
    val scalars1 = scalars.agg(max(col("__n")).as("__n"), max(col("__t")).as("__t"))
    tf.join(dfreq, Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(scalars1))
      .withColumn("__adl", expr("__t div __n"))
      .withColumn("__idf", ilog2(col("__n")) - ilog2(col("__df")))
      .withColumn("__sc", expr(
        s"(__idf * 22 * tf * __adl * $scale) div (10 * tf * __adl + 3 * __adl + 9 * __dl)"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__sc")).as("__s"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.topK(k)(
        col("__s").cast("double"), col(idCol).cast("bigint")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rank"),
        col("e._2").as(idCol), col("e._1").cast("bigint").as("score_q"))
  }

  /** Two-stage retrieval with pseudo-relevance feedback (Rocchio/RM
    * simplified — the classic recall-repair loop, and the shape of
    * every retrieve-expand-rerank RAG pipeline): run [[bm25TopK]], take
    * each query's top `fbDocs` documents AS IF relevant, mine their
    * `fbTerms` best expansion terms — ranked by (Σ tf over the
    * feedback docs) · idf_bits with CORPUS document frequency, original
    * query terms excluded, ties term-ASC — and re-run BM25 with the
    * expanded query. Every score is the engine's integer BM25/idf
    * arithmetic, so both stages are oracle-exact end to end.
    *
    * Scale shape: round 1 is [[bm25TopK]]; the two driver collects are
    * BOUNDED BY THE QUERY CONTRACT (queries·fbDocs ids, then
    * queries·fbTerms terms — the expanded query must become a literal
    * probe anyway, exactly like [[graft.text.Classify.packWeights]]'
    * dim-bounded collect); feedback tf explodes ONLY the feedback docs
    * (literal isin on the id); the corpus df agg is the one full pass
    * (the [[tfidfTopTerms]] df shape — distinct (doc, term) collapsed
    * then term-keyed); the expansion argmax is a window over each
    * query's feedback vocabulary (bounded by fbDocs documents' terms);
    * round 2 is BM25 again with the expanded literals. The corpus
    * scalars (N, T) are computed ONCE and shared by round 1, the
    * expansion idf, and round 2 as a persisted ONE-ROW frame — without
    * it each stage re-paid a full corpus tokenize pass for two longs
    * (3 passes → 1, measured r15).
    *
    * Lifecycle: the scalars frame stays persisted after this returns —
    * the returned round-2 frame reads it lazily, so it cannot be
    * unpersisted here. It is released when the caller runs
    * `spark.catalog.clearCache()`, as with every [[graft.transform.Cache]]
    * site (see that class's session-lifecycle note); a long-lived session
    * calling this repeatedly should clear at its own query boundaries. */
  def bm25PseudoFeedback(docs: DataFrame, idCol: String, toksCol: String,
      queries: Seq[(Long, Seq[String])], k: Int = 10, fbDocs: Int = 3,
      fbTerms: Int = 2, scale: Long = 10000L): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 0,
      s"bm25PseudoFeedback: need fbDocs >= 1, fbTerms >= 0, got $fbDocs/$fbTerms")
    val spark = docs.sparkSession
    import spark.implicits._
    val ilog2 = (c: Column) => (length(bin(c)) - 1).cast("bigint")
    // The corpus scalars (N, T) are identical in round 1, the expansion
    // idf, and round 2 — computed once and PERSISTED (one row; its
    // lineage is a full corpus tokenize pass, which the three consumers
    // were each re-paying: 3 tokenize passes → 1, measured r15
    // interleaved A/B). The one-row cache is bounded at any corpus size.
    val scalars = bm25Scalars(docs, toksCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val round1 = bm25TopKWith(docs, scalars, idCol, toksCol, queries, fbDocs, scale)
    val fbPairs = round1.select(col("query_id"), col(idCol).as("__fbid"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val fbIds = fbPairs.map(_._2).distinct.toSeq
    val fbDf = fbPairs.toSeq.toDF("query_id", "__fbid")
    val tfFb = docs.select(col(idCol), explode(col(toksCol)).as("term"))
      .filter(col(idCol).isin(fbIds: _*))
      .join(broadcast(fbDf), col(idCol) === col("__fbid"))
      .groupBy(col("query_id"), col("term")).agg(count(lit(1)).as("__tf"))
    val dfAll = docs.select(col(idCol), explode(col(toksCol)).as("term"))
      .distinct()
      .groupBy("term").agg(count(lit(1)).as("__df"))
    // __n comes from the shared scalars frame — the standalone corpus
    // pass this agg used to pay is the frame's cached row.
    val n = scalars.select(col("__n"))
    val orig = queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
      .toDF("query_id", "term").withColumn("__orig", lit(1))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("__sc").desc, col("term").asc)
    val expansion = tfFb.join(dfAll, Seq("term"))
      .crossJoin(broadcast(n))
      .join(broadcast(orig), Seq("query_id", "term"), "left")
      .filter(col("__orig").isNull)
      .withColumn("__sc", col("__tf") * (ilog2(col("__n")) - ilog2(col("__df"))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= fbTerms)
      .select("query_id", "term")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expByQ = expansion.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val expanded = queries.map { case (q, ts) =>
      q -> (ts ++ expByQ.getOrElse(q, Nil)).distinct }
    bm25TopKWith(docs, scalars, idCol, toksCol, expanded, k, scale)
  }

  /** Materialized inverted index for repeated [[bm25TopK]] retrieval —
    * the signature store's [[graft.sources.Store]] move applied to
    * search: a served corpus should not re-tokenize and re-explode per
    * query batch. Two tables: `table` = the posting list (term, doc_id,
    * dl, tf), BUCKETED AND SORTED BY term so a term-probe reads its
    * buckets in place (bucket pruning on the literal isin — no shuffle,
    * no full scan), and `table_stats` = the one-row (n, t) corpus
    * scalars frozen AT INDEX TIME (scores stay comparable across query
    * batches; rebuild to refresh). df is NOT stored: it re-aggregates at
    * query time from the probed postings alone — a probe-sized agg,
    * always consistent with the postings. */
  def writePostings(docs: DataFrame, idCol: String, toksCol: String,
      table: String, path: String, buckets: Int = 64): Unit = {
    val postings = StoreKind("postings", _.select(col(idCol).as("doc_id"),
          size(col(toksCol)).cast("bigint").as("dl"),
          explode(col(toksCol)).as("term"))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
        .select("term", "doc_id", "dl", "tf"),
      Seq("term"), sorted = true)
    Store.write(docs, postings, table, path, buckets)
    docs.agg(
        coalesce(sum(when(size(col(toksCol)) > 0, 1L).otherwise(0L)), lit(0L)).as("__n"),
        coalesce(sum(size(col(toksCol)).cast("bigint")), lit(0L)).as("__t"))
      .write.mode("overwrite").option("path", s"${path}_stats")
      .saveAsTable(s"${table}_stats")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) — the
    * standard way to combine heterogeneous retrieval tiers (BM25 lexical
    * + embedding ANN, or any mix) without score calibration: each
    * ranking contributes `scale div (k0 + rank)` per (query, doc) and
    * the fused order is the contribution sum. The curation uses are
    * hybrid benchmark-decontamination audit and hard-negative mining
    * (fuse a lexical and a semantic ranking; near-top disagreements are
    * the hard negatives).
    *
    * All-integer by construction: `rank` is an integer, the reciprocal
    * is one integer `div` at `scale`, the fused score a LONG sum —
    * bit-stable cross-engine and under any summation order (the
    * [[bm25TopK]] discipline). Ties rank (score DESC, id ASC).
    *
    * Scale shape: every input obeys the engine's top-k contract
    * (query_id, rank, idCol — nQueries·k rows, BOUNDED), so the union
    * and (query, doc)-keyed sum are probe-sized whatever the corpus
    * was; the final per-query cut is the bounded [[graft.functions
    * .TopK]] aggregator — map-side reduced, no window, no corpus
    * anywhere in this plan (the corpora were scanned by the input
    * rankings). Score bound: nRankings·scale/k0 « 2^53, so the double
    * handoff into TopK is exact. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int,
      k0: Int = 60, scale: Long = 1000000000000L): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: at least one ranking required")
    require(k >= 1 && k0 >= 0 && scale >= 1,
      s"rrfFuse: bad parameters k=$k k0=$k0 scale=$scale")
    val contrib = rankings
      .map(_.select(col("query_id"), col(idCol),
        expr(s"${scale}L div (${k0}L + rank)").as("__c")))
      .reduce(_ unionByName _)
    contrib.groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__c")).as("__s"))
      .groupBy("query_id")
      .agg(graft.functions.TopK.topK(k)(
        col("__s").cast("double"), col(idCol).cast("bigint")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rank"),
        col("e._2").as(idCol), col("e._1").cast("bigint").as("rrf_score"))
  }

  /** BM25 top-k served from a [[writePostings]] index: the probe
    * filters the bucketed posting table by the literal query
    * vocabulary and feeds the SAME scoring tail as [[bm25TopK]] —
    * results are bit-identical to the live path over the indexed
    * corpus (VocabSpec pins it). Per query batch the work is
    * probe-sized: no tokenize, no corpus explode, no corpus scan. */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: Seq[(Long, Seq[String])], k: Int = 10,
      scale: Long = 10000L): DataFrame = {
    val (qterms, termSet) = bm25Queries(spark, queries)
    val tf = Store.read(spark, table)
      .filter(col("term").isin(termSet: _*))
      .select(col("doc_id"), col("dl").as("__dl"), col("term"), col("tf"))
    bm25Score(tf, spark.table(s"${table}_stats"), qterms, "doc_id", k, scale)
  }

  /** Conjunctive boolean retrieval from a [[writePostings]] index —
    * the AND-of-terms tier under [[bm25TopKFromIndex]] (ranked
    * retrieval answers "best for these terms"; boolean AND answers
    * "which documents contain ALL of them" — the filter stage of
    * every filtered-search deployment, and the exact-match debugging
    * query an index operator runs first). A doc qualifies for a query
    * iff its matched-term count equals the query's distinct-term
    * count — postings are (doc, term)-unique by construction, so a
    * plain count IS the distinct match count. Queries with a term
    * absent from the corpus return nothing, by conjunction. Output:
    * (query_id, doc_id, dl, tf_total) — tf_total = Σtf over the
    * query's terms, the payload a downstream ranker or highlighter
    * consumes.
    *
    * Scale shape: the probe filters the bucketed posting table by the
    * literal query vocabulary (bucket pruning — no corpus scan, no
    * shuffle on the store side), the query table broadcasts (bounded
    * by construction — it arrives as a driver Seq), and the
    * (query, doc)-keyed agg map-side combines over probe-sized
    * postings only. */
  def booleanAndFromIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: Seq[(Long, Seq[String])]): DataFrame = {
    require(queries.nonEmpty, "booleanAnd: empty query set")
    import spark.implicits._
    val qterms = queries
      .flatMap { case (qid, ts) =>
        val d = ts.distinct
        d.map(tm => (qid, tm, d.size.toLong)) }
      .toDF("query_id", "term", "__nt")
    Store.read(spark, table)
      .filter(col("term").isin(queries.flatMap(_._2).distinct: _*))
      .join(broadcast(qterms), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("__m"), max(col("__nt")).as("__nt"),
        max(col("dl")).as("dl"), sum(col("tf")).as("tf_total"))
      .filter(col("__m") === col("__nt"))
      .select("query_id", "doc_id", "dl", "tf_total")
  }

  /** Robust per-group outlier report — the corpus-QA card that flags
    * anomalous documents per source without assuming normality: for
    * each group, the (lower) MEDIAN of `valCol`, the MAD (median
    * absolute deviation — the robust spread no single pathological doc
    * can drag, unlike a stddev), and the count of docs whose deviation
    * exceeds madNum/madDen MADs. All integer: median = smallest v with
    * 2·cum ≥ total (the [[lengthPercentileGate]] cross-product rule —
    * no division), the outlier test is `|v−med|·madDen > mad·madNum`,
    * so every column is bit-exact cross-engine.
    *
    * Scale shape: the corpus is scanned ONCE, into a bounded per-group
    * VALUE HISTOGRAM (map-side-combined (group, v)-keyed agg; distinct
    * values ≪ corpus — the [[lengthPercentileGate]] argument); the
    * median, the DEVIATION histogram (derived from the value histogram
    * by |v−med| re-keying — never from the docs), the MAD, and the
    * outlier count are all computed on that bounded frame. The two
    * cumulative windows partition by group over histogram rows —
    * bounded partitions, never the corpus. Output: (groupCol, n_docs,
    * median, mad, n_outliers). */
  def robustOutlierReport(df: DataFrame, groupCol: String, valCol: String,
      madNum: Long = 3, madDen: Long = 1): DataFrame = {
    require(madNum > 0 && madDen > 0,
      s"robustOutlierReport: need positive madNum/madDen, got $madNum/$madDen")
    import org.apache.spark.sql.expressions.Window
    val hist = df.select(col(groupCol).as("__g"), col(valCol).cast("bigint").as("__v"))
      .groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
    val wv = Window.partitionBy("__g").orderBy("__v")
    val med = hist
      .withColumn("__cum", sum(col("__c")).over(wv))
      .withColumn("__tot", sum(col("__c")).over(Window.partitionBy("__g")))
      .groupBy("__g").agg(
        min(when(col("__cum") * 2 >= col("__tot"), col("__v"))).as("__med"),
        max(col("__tot")).as("n_docs"))
    val devHist = hist.join(med, Seq("__g"))
      .select(col("__g"), abs(col("__v") - col("__med")).as("__d"), col("__c"))
      .groupBy("__g", "__d").agg(sum(col("__c")).as("__c"))
    val wd = Window.partitionBy("__g").orderBy("__d")
    val mad = devHist
      .withColumn("__cum", sum(col("__c")).over(wd))
      .withColumn("__tot", sum(col("__c")).over(Window.partitionBy("__g")))
      .groupBy("__g").agg(
        min(when(col("__cum") * 2 >= col("__tot"), col("__d"))).as("__mad"))
    devHist.join(mad, Seq("__g")).groupBy("__g")
      .agg(coalesce(sum(when(
        col("__d") * madDen > col("__mad") * madNum, col("__c"))), lit(0L))
        .as("n_outliers"), max(col("__mad")).as("__m2"))
      .join(med, Seq("__g"))
      .select(col("__g").as(groupCol), col("n_docs"), col("__med").as("median"),
        col("__m2").as("mad"), col("n_outliers"))
  }

  /** Per-group Gini inequality card — "is this source a few giant
    * documents or many small ones?": the Lorenz-curve summary a
    * data-mixture review reads next to [[robustOutlierReport]]'s
    * outlier count (MAD says how wide; Gini says how CONCENTRATED).
    * Population Gini with ties, exactly
    * G = (2·Σᵢ i·xᵢ − (n+1)·T) / (n·T) over the ascending sort —
    * computed from the value HISTOGRAM, not the sort: a value v with
    * count c preceded by F smaller rows occupies ranks F+1…F+c, so
    * 2·Σ i·xᵢ = Σᵥ v·(2cF + c² + c), an exact LONG. Output:
    * (groupCol, n, total, gini_ppm) with gini_ppm =
    * ⌊10⁶·(2S − (n+1)T)/(nT)⌋, 0 for empty/zero-total groups.
    * Values must be non-negative (Gini's own precondition).
    *
    * Scale shape: the [[robustOutlierReport]] histogram argument
    * verbatim — one (group, value)-keyed map-side-combined count agg
    * over the corpus, one group-partitioned cumulative window over
    * BOUNDED histogram rows, one group-keyed closing agg.
    *
    * Overflow headroom: the ppm step computes 10⁶·(2S − (n+1)T) as a
    * LONG — exact while n·T stays under ~9·10¹² per group (2S − (n+1)T
    * is bounded by (n−1)·T); a group with 10⁹ documents of 10⁴ chars
    * exceeds it — move the ppm step to DECIMAL(38,0) there (the
    * histogram stays long; only the one-row-per-group closing
    * arithmetic widens). */
  def giniCard(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.select(col(groupCol).as("__g"),
        col(valCol).cast("bigint").as("__v"))
      .groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
    val wv = Window.partitionBy("__g").orderBy("__v")
    hist
      .withColumn("__f", sum(col("__c")).over(wv) - col("__c"))
      .groupBy("__g").agg(
        sum(col("__c")).as("n"),
        sum(col("__v") * col("__c")).as("total"),
        sum(col("__v") * (col("__c") * col("__f") * 2 +
          col("__c") * col("__c") + col("__c"))).as("__s2"))
      .select(col("__g").as(groupCol), col("n"), col("total"),
        when(col("total") > 0,
          expr("(1000000 * (__s2 - (n + 1) * total)) div (n * total)"))
          .otherwise(lit(0L)).as("gini_ppm"))
  }

  /** Distinctive terms per group ("Fightin' Words", Monroe et al.
    * 2008 simplified): for each group, the k terms whose usage most
    * exceeds the REST of the corpus — the per-source vocabulary card
    * that turns a mixed crawl's sources into readable profiles. The
    * score is [[graft.text.Classify.trainNaiveBayes]]'s bit-quantized
    * smoothed log-odds with the complement as the negative class:
    *
    *   w = [ilog2(c_g+1) − ilog2(c_rest+1)] + [ilog2(T_rest+V) − ilog2(T_g+V)]
    *
    * all integers, so ranking is exact on any engine. Ties (rank ASC)
    * break term-ASC. Output: (groupCol, rank, term, w).
    *
    * Scale shape: ONE (group, term)-keyed map-side-combined count agg
    * over the exploded corpus; per-term corpus totals aggregate the
    * ALREADY-collapsed frame (c_rest = c_tot − c_g needs no second
    * corpus pass); per-group token totals and V ride in as one bounded
    * broadcast frame; per-group ranking is the bounded [[TopK]]
    * aggregator over (w, term-rank) — never a group-vocabulary window
    * sort. The term tiebreak rides the TopK key as the term's dense
    * corpus rank (md5-free, order-exact). */
  def distinctiveTerms(docs: DataFrame, groupCol: String, toksCol: String,
      k: Int = 3): DataFrame = {
    val ilog2 = (c: Column) => (length(bin(c)) - 1).cast("bigint")
    val cg = docs.select(col(groupCol).as("__g"), explode(col(toksCol)).as("term"))
      .groupBy("__g", "term").agg(count(lit(1)).as("__cg"))
    val ct = cg.groupBy("term").agg(sum(col("__cg")).as("__ct"))
    val tg = cg.groupBy("__g").agg(sum(col("__cg")).as("__tg"))
    val tot = ct.agg(count(lit(1)).as("__v"),
      coalesce(sum(col("__ct")), lit(0L)).as("__tt"))
    val scored = cg.join(ct, Seq("term"))
      .join(broadcast(tg), Seq("__g"))
      .crossJoin(broadcast(tot))
      .select(col("__g"), col("term"),
        (ilog2(col("__cg") + 1) - ilog2(col("__ct") - col("__cg") + 1)
          + ilog2(col("__tt") - col("__tg") + col("__v"))
          - ilog2(col("__tg") + col("__v"))).as("w"))
    // Deterministic TopK tiebreak: the term must become the aggregator's
    // LONG key, so the vocabulary needs a dense term-ASC rank — via
    // [[graft.sources.Indexed]] (range-partitioned, the engine's
    // no-unpartitioned-window rule; the vocabulary is corpus-scale).
    val termRank = graft.sources.Indexed.withIdx(ct, Seq(col("term").asc), "__trb")
      .select(col("term"), (col("__trb") + 1L).as("__tr"))
    scored.join(termRank, Seq("term"))
      .groupBy(col("__g"))
      .agg(graft.functions.TopK.topK(k)(
        col("w").cast("double"), col("__tr")).as("__top"))
      .select(col("__g"), posexplode(col("__top")).as(Seq("__p", "__e")))
      .select(col("__g"), (col("__p") + 1).cast("bigint").as("rank"),
        col("__e").getField("_2").as("__tr"),
        col("__e").getField("_1").cast("bigint").as("w"))
      .join(termRank, Seq("__tr"))
      .select(col("__g").as(groupCol), col("rank"), col("term"), col("w"))
  }

  /** Keyword-in-context (KWIC) concordance — the corpus-inspection
    * primitive ("show me every use of X with its surroundings"): one
    * row per occurrence of the query BIGRAM with `ctx` tokens of
    * context on each side. Pure token-array arithmetic (posexplode +
    * slice) — no regex engine, so both engines extract the identical
    * windows. Output: (idCol, pos, context). The occurrence position
    * is 1-based (the slice convention).
    *
    * Scale shape: one bounded posexplode (every token once) filtered
    * in its own codegen stage by the literal first token before the
    * array probe of the second — no shuffle at all; the result is
    * bounded by the phrase's corpus frequency. */
  def kwic(docs: DataFrame, idCol: String, toksCol: String,
      w1: String, w2: String, ctx: Int = 2): DataFrame =
    docs
      .select(col(idCol), col(toksCol).as("__ts"),
        posexplode(col(toksCol)).as(Seq("__i", "__w")))
      // try_element_at: the last token has no successor — ANSI
      // element_at would throw instead of returning null.
      .filter(col("__w") === w1 &&
        expr("try_element_at(__ts, __i + 2)") === w2)
      .select(col(idCol), (col("__i") + 1).cast("bigint").as("pos"),
        concat_ws(" ", slice(col("__ts"),
          greatest(col("__i") + 1 - ctx, lit(1)),
          col("__i") + 2 + ctx - greatest(col("__i") + 1 - ctx, lit(1)) + 1))
          .as("context"))

  /** Unicode NFC normalization — the i18n canonicalization every
    * multilingual corpus needs BEFORE any hash-keyed operator (exact
    * dedup, shingles, dictionary): "café" composed and "cafe" + U+0301
    * are different strings to every md5 in this engine until normalized.
    * Java's Normalizer implements the same Unicode-standard NFC
    * algorithm as DuckDB's `nfc_normalize`, so the operation is
    * oracle-exact despite being a UDF (a one-time ingest pass — the
    * documented interpreted-tier trade, [[graft.ann.Ann.quantize]]'s
    * note; the hot paths stay codegen over the normalized column). */
  val nfc = udf { (s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
  }

  /** Per-group quantile card — the p50/p90/p99 row of a dataset card,
    * computed EXACTLY from the same bounded per-group value histogram
    * [[robustOutlierReport]] uses (one corpus scan; the cut at
    * percentile p is the smallest v whose cumulative count clears
    * ⌈tot·p/100⌉, compared as the division-free integer cross-product
    * `100·cum ≥ tot·p` — [[lengthPercentileGate]]'s rule, per group).
    * Cumulative window partitions by group over histogram rows only.
    * Output: (groupCol, n_rows, p<p1>, p<p2>, …). */
  def quantileCard(df: DataFrame, groupCol: String, valCol: String,
      ps: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      s"quantileCard: percentiles must be in [1,100], got $ps")
    import org.apache.spark.sql.expressions.Window
    val hist = df.select(col(groupCol).as("__g"), col(valCol).cast("bigint").as("__v"))
      .groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(
        Window.partitionBy("__g").orderBy("__v")))
      .withColumn("__tot", sum(col("__c")).over(Window.partitionBy("__g")))
    val cuts = ps.map(p =>
      min(when(col("__cum") * 100 >= col("__tot") * p, col("__v"))).as(s"p$p"))
    cum.groupBy("__g")
      .agg(max(col("__tot")).as("n_rows"), cuts: _*)
      .withColumnRenamed("__g", groupCol)
  }

  /** Vocabulary coverage curve — the tokenizer-design companion to
    * [[buildDictionary]] (reference: fuel/datasets/text.py:34-44, whose
    * fixed `dictionary` the caller must size): the top-`topK` tokens by
    * (count DESC, word ASC) with their rank, cumulative occurrence
    * count, and cumulative coverage fraction of ALL token occurrences.
    * "What vocab size covers 95% of the corpus" reads straight off the
    * curve.
    *
    * Scale shape: one map-side-combined vocab-keyed count agg, then a
    * TakeOrdered top-k (never a full vocab sort); the running total and
    * the rank over the k survivors are two [[graft.sources.PrefixSum]]
    * scans, the second over the first's declared order (no re-sort) — the
    * engine's "no unpartitioned window" rule holds even here, where the
    * frame is only `topK` rows — and the corpus-wide occurrence total
    * rides in as a broadcast one-row frame (the [[tfidfTopTerms]]
    * pattern, no driver action). Coverage is a long/long double
    * division — IEEE-exact cross-engine. */
  def vocabCoverage(docs: DataFrame, toksCol: String, topK: Int): DataFrame = {
    val total = docs.agg(
      coalesce(sum(size(col(toksCol)).cast("bigint")), lit(0L)).as("__total"))
    val order = Seq(col("cnt").desc, col("word").asc)
    val top = docs.select(explode(col(toksCol)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(order: _*).limit(topK)
    val cum = graft.sources.Indexed.withIdx(
      graft.sources.PrefixSum.withPrefixSum(top, order, "cnt", "__cum_before"),
      order, "__rank_before")
    cum.crossJoin(broadcast(total))
      .select((col("__rank_before") + 1L).as("rank"), col("word"), col("cnt"),
        (col("__cum_before") + col("cnt")).as("cum_cnt"),
        ((col("__cum_before") + col("cnt")).cast("double") /
          col("__total").cast("double")).as("coverage"))
  }

  /** Corpus-derived length-percentile gate — the Gopher/C4 document-
    * length rule with the thresholds measured from the corpus ITSELF
    * rather than hand-picked constants: keep docs whose `nTokCol` lies
    * in the [pLo, pHi] percentile band. The cut at percentile p is the
    * smallest length whose cumulative doc count reaches ⌈total·p/100⌉
    * (compared as the overflow-free integer cross-product
    * `100·cum ≥ total·p` — no division, no float, so both cuts are
    * bit-identical in any engine).
    *
    * Scale shape: the corpus collapses to a bounded LENGTH HISTOGRAM
    * (one map-side-combined agg; distinct doc lengths ≪ corpus — the
    * [[graft.text.Perplexity.buckets]] argument), the running totals
    * over that bounded frame use [[graft.sources.PrefixSum]] (the
    * engine's no-unpartitioned-window rule), the two cuts reduce to ONE
    * row, and the gate itself is a broadcast one-row join + filter —
    * the corpus is scanned twice (histogram, filter) and never
    * shuffled. */
  def lengthPercentileGate(df: DataFrame, nTokCol: String,
      pLo: Int = 5, pHi: Int = 95): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 100,
      s"lengthPercentileGate: need 0 <= pLo < pHi <= 100, got [$pLo, $pHi]")
    val hist = df.groupBy(col(nTokCol)).agg(count(lit(1)).as("__c"))
    // the doc total comes EAGERLY from the prefix scan's phase-1
    // reduction: a totals aggregation over `hist` would re-derive the
    // histogram from the corpus (no exchange reuse across the RDD
    // bridge), making this a three-scan gate instead of two
    val (pre, t) = graft.sources.PrefixSum.withPrefixSumTotal(
      hist, Seq(col(nTokCol).asc), "__c", "__cum_before")
    val cum = pre.withColumn("__cum", col("__cum_before") + col("__c"))
    val cuts = cum
      .agg(
        min(when(col("__cum") * 100 >= lit(t) * pLo, col(nTokCol))).as("__lo"),
        min(when(col("__cum") * 100 >= lit(t) * pHi, col(nTokCol))).as("__hi"))
    df.crossJoin(broadcast(cuts))
      .filter(col(nTokCol) >= col("__lo") && col(nTokCol) <= col("__hi"))
      .drop("__lo", "__hi")
  }

  /** Sliding-window chunking of over-length documents — the
    * context-length preprocessor (a doc longer than the model's window
    * must split BEFORE packing, and retrieval corpora chunk with
    * overlap so no passage straddles a boundary unseen): doc → chunks
    * of `maxTokens` at stride `maxTokens - overlap`, last chunk the
    * remainder, docs within the budget pass through as chunk 0. Chunk
    * count is the integer form `1 + ceil((n - max) / stride)` — no
    * float anywhere, so the layout is bit-identical in any engine.
    * Empty docs emit no row. Output: (idCol, chunk_id, chunk_toks,
    * n_chunk_tokens).
    *
    * Scale shape: one bounded posexplode (fan-out = the doc's own
    * chunk count) over a pure projection; no shuffle, no join —
    * [[cdcChunks]]' content-defined cousin with fixed geometry. */
  def splitLongDocs(df: DataFrame, idCol: String, toksCol: String,
      maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens >= 1, s"splitLongDocs: maxTokens must be >= 1, got $maxTokens")
    require(0 <= overlap && overlap < maxTokens,
      s"splitLongDocs: overlap must be in [0, maxTokens), got $overlap")
    val step = maxTokens - overlap
    val n = size(col("__ts"))
    // integer div (`div`, not `/` — Column `/` is double division)
    val nChunks = when(n <= maxTokens, lit(1))
      .otherwise(lit(1) +
        expr(s"(size(__ts) - $maxTokens + ${step - 1}) div $step"))
    df.filter(size(col(toksCol)) > 0)
      .select(col(idCol), col(toksCol).as("__ts"))
      .select(col(idCol), col("__ts"),
        posexplode(sequence(lit(0L), nChunks.cast("bigint") - 1))
          .as(Seq("chunk_id", "__k")))
      .select(col(idCol), col("chunk_id").cast("bigint").as("chunk_id"),
        slice(col("__ts"), col("chunk_id") * step + 1, lit(maxTokens))
          .as("chunk_toks"))
      .withColumn("n_chunk_tokens", size(col("chunk_toks")).cast("bigint"))
  }

  /** Vocabulary drift between two corpora — the distribution-shift
    * monitor a refreshed training set gets checked with (did the new
    * crawl change what the model will read?): the top-`topK` tokens of
    * the COMBINED stream by (total count DESC, word ASC), each with its
    * count and occurrence share on both sides and the share delta.
    * Counts are integers; shares and delta are long/long double
    * divisions — the whole table is bit-reproducible.
    *
    * Scale shape: one map-side-combined vocab-keyed count agg per side,
    * a vocab-bounded full-outer join (the WORD vocabulary — for n-gram
    * drift at corpus scale use the [[graft.sketch.Sketch.countMin]]
    * tier instead; the scaladoc is the decision rule), a TakeOrdered
    * top-k (never a vocab sort), and the two totals ride as a broadcast
    * one-row frame. */
  def vocabDrift(docsA: DataFrame, docsB: DataFrame, toksCol: String,
      topK: Int = 50): DataFrame = {
    def counts(df: DataFrame, out: String): DataFrame = df
      .select(explode_outer(col(toksCol)).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("word").agg(count(lit(1)).as(out))
    val ca = counts(docsA, "cnt_a")
    val cb = counts(docsB, "cnt_b")
    val totals = broadcast(
      ca.agg(coalesce(sum(col("cnt_a")), lit(0L)).as("__ta"))
        .crossJoin(cb.agg(coalesce(sum(col("cnt_b")), lit(0L)).as("__tb"))))
    ca.join(cb, Seq("word"), "full_outer")
      .withColumn("cnt_a", coalesce(col("cnt_a"), lit(0L)))
      .withColumn("cnt_b", coalesce(col("cnt_b"), lit(0L)))
      .orderBy((col("cnt_a") + col("cnt_b")).desc, col("word").asc)
      .limit(topK)
      .crossJoin(totals)
      .select(col("word"), col("cnt_a"), col("cnt_b"),
        (col("cnt_a").cast("double") / col("__ta").cast("double")).as("share_a"),
        (col("cnt_b").cast("double") / col("__tb").cast("double")).as("share_b"))
      .withColumn("share_delta", col("share_a") - col("share_b"))
  }

  /** PMI collocations — adjacent-bigram association strength, the
    * lexical-statistics operator behind multi-word-expression discovery
    * (Church & Hanks 1990's pointwise mutual information, the signal
    * phrase-merging tokenizers and "new york"-style vocab entries key
    * off). Reported as the PMI RATIO on an integer ppm grid rather
    * than its log: score_ppm = ⌊10⁶ · (c12·N) / (c1·c2)⌋ — monotone in
    * PMI (log is), so rankings and thresholds agree, while staying
    * engine-exact where a libm `ln` is not guaranteed bit-identical.
    * c(w) counts EVERY occurrence (each token appears exactly once as
    * a pair head, doc-final tokens with a null continuation), N = Σc.
    * Pairs below `minCount` drop — the standard PMI small-sample
    * guard: a 1-occurrence pairing of two hapaxes scores astronomically
    * and means nothing. Output: (w1, w2, c12, c1, c2, score_ppm).
    *
    * Numeric contract: both products are exact in DECIMAL(38,0), cast
    * to double once each (one IEEE rounding per side), one division,
    * one floor — every engine reproduces the bits.
    *
    * Scale shape: ONE corpus explode (the in-array zip_with pairs each
    * token with its successor — zip_with's null-padding supplies the
    * doc-final null, no second slice pass) feeding one map-side-
    * combined pair-keyed count agg; unigram counts and N derive from
    * the BOUNDED pair table (sum over its rows), never a corpus
    * rescan; the two unigram joins are vocab-keyed. */
  def pmiCollocations(docs: DataFrame, toksCol: String,
      minCount: Long = 5, scale: Long = 1000000L): DataFrame = {
    val ts = col(toksCol)
    val stream = docs.filter(size(ts) >= 1)
      .select(explode(zip_with(ts, slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
    val pc = stream.groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
    val uni = pc.groupBy("w1").agg(sum(col("c")).as("c1"))
    val n = uni.agg(sum(col("c1")).as("__n"))
    pc.filter(col("w2").isNotNull && col("c") >= minCount)
      .select(col("w1"), col("w2"), col("c").as("c12"))
      .join(uni, Seq("w1"))
      .join(uni.select(col("w1").as("w2"), col("c1").as("c2")), Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        floor(
          (col("c12").cast("decimal(38,0)") * col("__n") * lit(scale))
            .cast("double") /
          (col("c1").cast("decimal(38,0)") * col("c2")).cast("double"))
          .as("score_ppm"))
  }

  /** Separator between symbols in [[bpeMerges]]' working sequences: a
    * control char no `^[a-z]+$` training word can contain. */
  val BpeSep = "\u0001"

  /** BPE merge training — the tokenizer-induction operator itself (the
    * step upstream of every token-count column in this engine): learn
    * the first `nMerges` byte-pair-encoding merges from the corpus, the
    * Sennrich et al. 2016 procedure. Words are whitespace tokens
    * restricted to `^[a-z]+$` (≥ 2 chars) — BPE trains on a normalized
    * word-frequency table, and the ASCII restriction keeps
    * character-splitting semantics identical across engines. Each round:
    * count adjacent symbol-pair occurrences weighted by word frequency
    * (overlapping occurrences count, the standard rule), pick the
    * (count DESC, left ASC, right ASC) argmax, fuse that pair everywhere
    * leftmost-first — exactly `replace`'s left-to-right non-overlapping
    * scan in BOTH engines, which IS the BPE greedy application order.
    * Output: (step, l_sym, r_sym, pair_count), one row per learned merge.
    *
    * Scale shape: the corpus collapses to the DISTINCT-WORD frequency
    * table up front (one map-side-combined agg — how industrial BPE
    * trainers scale; the corpus itself is never rescanned), and that
    * frame persists across rounds. Each round is one vocab-keyed pair
    * agg + a TakeOrdered(1) whose single argmax row collects to the
    * driver (bounded, the [[graft.ann.Ann]] sampleCentroids precedent),
    * and merge application is a narrow per-row `replace` projection.
    * Driver-side state after n rounds: n rows. */
  def bpeMerges(docs: DataFrame, toksCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    val words = docs.select(explode(col(toksCol)).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(rtrim(regexp_replace(col("w"), "(.)", "$1" + BpeSep), BpeSep)
        .as("seq"), col("cnt"))
      .persist()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var cur: DataFrame = words
    for (step <- 1 to nMerges) {
      val s = split(col("seq"), BpeSep)
      // The `when` guard: a fully-merged word has one symbol, and
      // Spark's sequence(1, 0) DESCENDS (the ngramOccurrences trap)
      // into an element_at(s, 0) error instead of yielding empty.
      val pairs = cur.select(explode(when(size(s) >= 2,
            transform(sequence(lit(1), size(s) - 1),
              i => struct(element_at(s, i).as("l"), element_at(s, i + 1).as("r"))))
          .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("__p"),
          col("cnt"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
      val best = pairs.orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      require(best.nonEmpty,
        s"bpeMerges: no adjacent symbol pairs left at step $step — " +
          "every training word is fully merged; lower nMerges")
      val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += ((step.toLong, l, r, c))
      cur = cur.withColumn("seq",
        replace(col("seq"), lit(l + BpeSep + r), lit(l + r)))
    }
    words.unpersist()
    import spark.implicits._
    merges.result().toDF("step", "l_sym", "r_sym", "pair_count")
  }

  /** Fingerprint-overlap near-dup pairs — the MOSS tier of the near-dup
    * family: doc pairs sharing ≥ `minShared` winnowing fingerprints,
    * with the shared count. Winnowing guarantees any match of ≥ w+k-1
    * consecutive tokens is CAUGHT by a shared fingerprint (the
    * Schleimer et al. 2003 bound), so unlike MinHash banding the recall
    * floor is positional, not probabilistic — the tier to reach for
    * when "shares a long verbatim passage" is the duplication predicate
    * but exact-window dedup ([[dedupSpans]]) is too rigid.
    *
    * Scale shape: bucket-list, not self-join — the fingerprint stream
    * (ids only) shuffles ONCE into per-fp id lists, each list bounded
    * by the occupancy guard (raise_error past `maxOccupancy` with the
    * exact-dedup-first rule in the message), and the id1 < id2 pairs
    * explode from the bounded list in-row before one map-side-combined
    * pair-keyed count. The md5-heavy fingerprint projection is
    * evaluated exactly once per doc. Run [[graft.dedup.Dedup.exact]]
    * first: clone families are the classic hot-bucket cause here
    * exactly as in LSH banding.
    *
    * explode_OUTER + isNotNull, deliberately: a plain `explode` lets
    * InferFiltersFromGenerate add `size(fps) > 0` below the Generate,
    * and PushDownPredicates then substitutes the ENTIRE winnow+gram
    * expression into a non-codegen Filter at the scan — every md5
    * re-evaluated interpreted, per doc (the q59 scrub-cache trap in
    * Generate form; 5.5 s → 0.4 s for this stage at sf0.1). The outer
    * generate is exempt from that inference, and the null filter runs
    * on the generator OUTPUT attribute, which nothing can push past
    * the Generate.
    *
    * `pruneAbove` (0 = off) is the SCALE KNOB the q223 occupancy card
    * sizes: DROP fingerprints shared by more than `pruneAbove` docs
    * before pairing — the standard over-common-shingle prune (a
    * fingerprint in thousands of docs is boilerplate, carries ~no
    * duplication signal, and contributes occ² of the quadratic pair
    * work). The recall trade, stated exactly: a pair is lost only if
    * EVERY fingerprint it shares is hotter than the cap, and
    * `n_shared` counts only surviving fingerprints — so `minShared`
    * semantics shift from "shared fingerprints" to "shared informative
    * fingerprints". Sizing: read q223's card and set the cap where
    * pair_share_ppm concentrates above useful occupancies; the
    * raise_error guard still backs the kept buckets. */
  def fingerprintPairs(df: DataFrame, idCol: String, toksCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxOccupancy: Int = 100000, pruneAbove: Int = 0): DataFrame =
    fpBuckets(df, idCol, toksCol, k, w, maxOccupancy, pruneAbove,
        "fingerprintPairs")
      .select(explode(flatten(transform(col("__ids"), x =>
        transform(filter(col("__ids"), y => y > x),
          y => struct(x.as("id1"), y.as("id2")))))).as("__p"))
      .select(col("__p.id1").as("id1"), col("__p.id2").as("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** Shared guarded bucket frame for [[fingerprintPairs]] /
    * [[containmentPairs]]: per-fingerprint sorted id lists,
    * boilerplate-pruned (`pruneAbove`, 0 = off) then occupancy-guarded.
    * The explode_OUTER + isNotNull shape is deliberate — see
    * [[fingerprintPairs]]' scaladoc for the InferFiltersFromGenerate
    * trap it dodges. */
  private def fpBuckets(df: DataFrame, idCol: String, toksCol: String,
      k: Int, w: Int, maxOccupancy: Int, pruneAbove: Int,
      op: String): DataFrame = {
    require(pruneAbove >= 0,
      s"$op: pruneAbove must be >= 0 (0 = off), got $pruneAbove")
    fingerprint(df, toksCol, k, w)
      .select(col(idCol), explode_outer(col("fps")).as("fp"))
      .filter(col("fp").isNotNull)
      .groupBy("fp").agg(sort_array(collect_list(col(idCol))).as("__ids"))
      .filter(if (pruneAbove > 0) size(col("__ids")) <= pruneAbove else lit(true))
      .withColumn("__ids",
        when(size(col("__ids")) <= maxOccupancy, col("__ids"))
          .otherwise(raise_error(concat(
            lit(s"$op: fingerprint occupancy "), size(col("__ids")),
            lit(s" exceeds maxOccupancy=$maxOccupancy — a fingerprint " +
              "shared by m docs yields m^2 candidate pairs. Run Dedup.exact " +
              "BEFORE fingerprint pairing (clone families are the classic " +
              "cause), raise maxOccupancy, or prune boilerplate fingerprints " +
              "with pruneAbove (size it from the q223 occupancy card)")))))
  }

  /** Asymmetric containment pairs — the MOSS-style DIRECTED score
    * [[fingerprintPairs]]' symmetric count cannot express: (src, dst)
    * with containment = |fp(src) ∩ fp(dst)| / |fp(src)| ≥ tauNum/tauDen
    * flags documents MOSTLY CONTAINED in another (excerpt farms,
    * scraped aggregates, quote-stuffed spam) even when the containing
    * doc is far larger — a Jaccard or shared-count threshold misses
    * exactly that asymmetry. Both directions of a sharing pair are
    * scored; the threshold is cross-multiplied (no division in the
    * cut), the reported score one long/long division at the edge.
    *
    * Scale shape: [[fingerprintPairs]]' bucket machinery builds the
    * shared counts (same occupancy guard); per-doc fingerprint counts
    * are one map-side-combined agg; the pair↔count join keys on the
    * UNIFORM doc id. Winnowing's positional guarantee makes recall
    * deterministic: an excerpt of ≥ w+k−1 tokens always shares its
    * windows' minima with the source.
    *
    * `pruneAbove` (0 = off) is [[fingerprintPairs]]' q224 scale knob,
    * threaded through the whole score (VERDICT r12 #2): fingerprints
    * hotter than the cap are dropped from the UNIVERSE — both the
    * shared counts and the `n_src_fps` denominator — so `containment`
    * stays a true fraction ("share of src's informative fingerprints
    * found in dst") instead of an underestimate that a boilerplate-
    * heavy src could never reach. Recall trade as in q224: a directed
    * edge is lost only if every fingerprint the pair shares is
    * boilerplate. Measured at sf1 (isolated min-of-2, local[32], calib
    * 0.386): unpruned q124 20.0 s vs pruneAbove=50 q225 5.5 s — 3.6×;
    * the prune removes the occ² head of the pair explosion (same
    * corpus, same k/w). */
  def containmentPairs(df: DataFrame, idCol: String, toksCol: String,
      k: Int = 3, w: Int = 4, tauNum: Int = 1, tauDen: Int = 2,
      maxOccupancy: Int = 100000, pruneAbove: Int = 0): DataFrame = {
    require(tauNum >= 0 && tauDen > 0 && tauNum <= tauDen,
      s"containmentPairs: threshold $tauNum/$tauDen is not in [0, 1]")
    val buckets = fpBuckets(df, idCol, toksCol, k, w, maxOccupancy,
      pruneAbove, "containmentPairs")
    // Denominator over the PRUNED universe, derived from the same bucket
    // frame (not a second fingerprint scan): a doc's informative-
    // fingerprint count is its membership count across surviving buckets.
    val nfp = buckets.select(explode(col("__ids")).as("src"))
      .groupBy("src").agg(count(lit(1)).as("n_src_fps"))
    val pairs = buckets
      .select(explode(flatten(transform(col("__ids"), x =>
        transform(filter(col("__ids"), y => y > x),
          y => struct(x.as("id1"), y.as("id2")))))).as("__p"))
      .select(col("__p.id1").as("id1"), col("__p.id2").as("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_shared"))
    pairs.select(col("id1").as("src"), col("id2").as("dst"), col("n_shared"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst"),
        col("n_shared")))
      .join(nfp, Seq("src"))
      .filter(col("n_shared") * tauDen >= col("n_src_fps") * tauNum)
      .withColumn("containment",
        col("n_shared").cast("double") / col("n_src_fps").cast("double"))
  }

  /** Content-defined chunking + duplicate-chunk report — the
    * insertion-robust passage-dedup preprocessing (the rsync/CDC idea
    * applied to token streams): a chunk boundary opens BEFORE every
    * token whose hash lands in the boundary class (`hash % modulus ==
    * 0`), so chunk edges are decided by CONTENT, and inserting a
    * sentence into a document shifts only the chunks it touches —
    * fixed-stride windows ([[dedupSpans]]' k-grams) would shift every
    * window after the edit. Output: one row per chunk content that
    * occurs ≥ 2 times corpus-wide — (chunk_hash, n_toks, n_occ,
    * n_docs, first_doc) — the repeated-passage inventory an
    * ExactSubstr-style cutter or a boilerplate review reads.
    *
    * Expected chunk length is `modulus` tokens (geometric); boundary
    * membership is a pure function of the token, so both engines cut
    * identically.
    *
    * Scale shape: one posexplode into a PER-DOC window (the q35 rule —
    * partitioned by doc, never global) for the running boundary count,
    * then per-(doc, chunk) assembly bounded by document length, then
    * one map-side-combined chunk-hash agg. No join anywhere. */
  def cdcChunks(df: DataFrame, idCol: String, toksCol: String,
      modulus: Int = 16): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("__pos")
    val chunks = df
      .select(col(idCol), posexplode(col(toksCol)).as(Seq("__pos", "__tok")))
      .withColumn("__b",
        when(pmod(Stable.hash64(col("__tok")), lit(modulus)) === 0, 1L)
          .otherwise(0L))
      .withColumn("__chunk", sum(col("__b")).over(win))
      .groupBy(col(idCol), col("__chunk"))
      .agg(sort_array(collect_list(struct(col("__pos"), col("__tok"))))
        .as("__toks"))
      .select(col(idCol),
        Stable.hash64(array_join(transform(col("__toks"), t => t("__tok")), " "))
          .as("chunk_hash"),
        size(col("__toks")).cast("bigint").as("n_toks"))
    chunks.groupBy("chunk_hash")
      .agg(min(col("n_toks")).as("n_toks"),
        count(lit(1)).as("n_occ"),
        count_distinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("first_doc"))
      .filter(col("n_occ") >= 2)
  }

  /** Segment the corpus with LEARNED BPE merges and report per-doc
    * fertility — the tokenizer-evaluation metric (subwords per word)
    * that decides whether [[bpeMerges]]' vocabulary is worth shipping.
    * Each token: characters joined by [[BpeSep]], the merges applied in
    * learned order (each a leftmost-first `replace`, the greedy BPE
    * application), symbol count = fragments; words outside `^[a-z]+$`
    * count 1 (unsegmented fallback, the training filter's complement).
    * Output: (idCol, n_words, n_subwords, fertility), docs with ≥ 1
    * token.
    *
    * `merges` is the learned table — driver-resident BY CONTRACT (a
    * merge list is tokenizer-sized: thousands, not corpus-sized), each
    * merge becoming one codegen'd `replace` in a single projection.
    * Scale shape: one exploded corpus pass into a map-side-combined
    * per-doc agg; no join, no window. */
  def bpeSegment(docs: DataFrame, idCol: String, toksCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val init = rtrim(regexp_replace(col("w"), "(.)", "$1" + BpeSep), BpeSep)
    val fused = merges.foldLeft(init) { case (s, (l, r)) =>
      replace(s, lit(l + BpeSep + r), lit(l + r))
    }
    val nsym = when(col("w").rlike("^[a-z]+$"),
      size(split(fused, BpeSep))).otherwise(lit(1))
    docs.select(col(idCol), explode(col(toksCol)).as("w"))
      .select(col(idCol), nsym.cast("bigint").as("__nsym"))
      .groupBy(idCol).agg(count(lit(1)).as("n_words"),
        sum(col("__nsym")).as("n_subwords"))
      .withColumn("fertility",
        col("n_subwords").cast("double") / col("n_words").cast("double"))
  }

  /** CCNet-style line-level dedup — the boilerplate scrubber: drop every
    * line whose exact text occurs more than `maxOccurrences` times across
    * the WHOLE corpus (nav menus, footers, cookie banners — the lines
    * that repeat across pages are precisely the ones that aren't
    * content), then reassemble each doc from its surviving lines in
    * original order. Docs whose every line is boilerplate drop from the
    * output entirely (they had no content). Output: (idCol, `out`).
    *
    * Scale shape: explode lines → one map-side-combined count keyed by
    * line → the OVER-THRESHOLD line set (bounded by construction: every
    * member has more than `maxOccurrences` copies, so the set holds
    * fewer than totalLines / (maxOccurrences + 1) distinct strings — in
    * practice the handful of nav/footer/banner lines) BROADCASTS into a
    * left_anti join against the line rows → per-doc reassembly via
    * array_sort over a collect_list bounded by the doc's own line count
    * (never a sort shuffle). The corpus's line rows never shuffle keyed
    * by line text: the first version inner-joined the FULL counts frame
    * back — a corpus-wide shuffle whose hot key was precisely the
    * boilerplate being removed (a footer present in every document sent
    * one row per document to a single partition). The only
    * line-text-keyed movement left is the count agg, which partial
    * aggregation collapses map-side.
    *
    * The broadcast contract is ENFORCED in
    * [[graft.dedup.Dedup.contaminated]]'s style: a bounded probe counts
    * at most `maxBoilerplateLines + 1` over-threshold lines and fails
    * fast with the fix in the message — the degenerate corpus where
    * "boilerplate" is NOT a small set (every line repeated, e.g. log
    * streams ingested as text) would otherwise OOM the driver on the
    * forced broadcast with a stack trace pointing at an executor. The
    * probe materializes the cached boilerplate set the anti-join then
    * reuses, so the operator still costs two corpus scans total (count
    * + join side), exactly as before the rewrite. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      maxOccurrences: Long = 1, out: String = "clean_text",
      maxBoilerplateLines: Int = 1000000): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__li", "__line")))
    val boiler = graft.transform.Cache()(
      lines.groupBy("__line").agg(count(lit(1)).as("__c"))
        .filter(col("__c") > maxOccurrences)
        .select("__line"))
    val probed = boiler.limit(maxBoilerplateLines + 1).count()
    require(probed <= maxBoilerplateLines,
      s"dedupLines: over-threshold line set exceeds $maxBoilerplateLines entries — " +
        "this corpus's boilerplate is not a bounded set and cannot broadcast. " +
        "Raise maxOccurrences (the threshold defines the set), or raise " +
        "maxBoilerplateLines if the driver genuinely fits the larger broadcast")
    lines.join(broadcast(boiler), Seq("__line"), "left_anti")
      .groupBy(idCol)
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("__li"), col("__line")))),
          e => e.getField("__line"))).as(out))
  }

  /** Line-level language segmentation — the mixed-language-document
    * report (CCNet classifies at paragraph granularity for exactly this
    * reason: web pages interleave languages, and a doc-level label
    * mis-routes the minority lines): every non-empty line gets the
    * [[langId]] argmax, and each doc reports its line count, dominant
    * line-language (count DESC, lang ASC tie-break), dominant-line
    * count, and `mix_frac` = the fraction of lines NOT in the dominant
    * language — the split-or-route signal for a per-language pipeline.
    *
    * Scale shape: explode → the fused TokenStats codegen projection per
    * line → one (doc, lang)-keyed count agg (map-side combined) → one
    * doc-keyed argmax agg over ≤ |profiles| rows per doc (min over a
    * (-count, lang) struct — no window). Docs with no non-empty line
    * emit no row. */
  def langSegments(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol), explode(split(col(textCol), "\n")).as("__line"))
      .withColumn("__ts", tokens(col("__line")))
      .filter(size(col("__ts")) > 0)
    val counts = lines
      .select(col(idCol), langId(col("__ts")).head.as("__lang"))
      .groupBy(col(idCol), col("__lang")).agg(count(lit(1)).as("__n"))
    counts.groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_lines"),
        min(struct((-col("__n")).as("neg"), col("__lang").as("lang"),
          col("__n").as("n"))).as("__best"))
      .select(col(idCol), col("n_lines"),
        col("__best.lang").as("main_lang"), col("__best.n").as("n_main_lines"))
      .withColumn("mix_frac",
        (col("n_lines") - col("n_main_lines")).cast("double") /
          col("n_lines").cast("double"))
  }

  /** C4's published line-and-page rules (Raffel et al. 2020 §2.2) — the
    * structural-quality scrub that runs on STILL-STRUCTURED text (before
    * [[normalize]] collapses newlines, the [[dedupLines]] ordering
    * rule): keep only lines that end in terminal punctuation AND hold at
    * least `minLineTokens` words AND mention no `banned` term (C4's
    * "javascript" rule); drop the whole page when it contains any
    * `pageBanned` marker (C4 dropped "lorem ipsum" and curly-brace
    * pages). Survivor lines reassemble in original order; pages whose
    * every line fails drop entirely. Complements [[dedupLines]]: that
    * rule is corpus-RELATIVE (what repeats), this one is structural
    * (what never was prose).
    *
    * Scale shape: strictly cheaper than [[dedupLines]] — every rule is a
    * per-line codegen predicate (no corpus-wide count, no broadcast),
    * so the whole operator is explode → filter → the same bounded
    * per-doc reassembly; nothing ever shuffles keyed by line text. */
  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
      minLineTokens: Int = 3, banned: Seq[String] = Seq("javascript"),
      pageBanned: Seq[String] = Seq("lorem ipsum", "{"),
      out: String = "clean_text"): DataFrame = {
    val pageOk = pageBanned.foldLeft(lit(true)) { (acc, b) =>
      acc && !col(textCol).contains(b)
    }
    val lines = df.filter(pageOk).select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__li", "__line")))
    val lineOk = banned.foldLeft(
      col("__line").rlike("[.!?\"]$") &&
        size(tokens(col("__line"))) >= minLineTokens) { (acc, b) =>
      acc && !col("__line").contains(b)
    }
    lines.filter(lineOk)
      .groupBy(idCol)
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("__li"), col("__line")))),
          e => e.getField("__line"))).as(out))
  }

  /** Training-data text normalization: lowercase, strip to alphanumerics
    * and spaces, collapse whitespace runs, trim. All Catalyst built-ins
    * (codegen); character classes chosen to behave identically in Java
    * regex and DuckDB's RE2. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Default PII redaction rules: emails, then 6+-digit runs (ids,
    * phones, SSNs — leaves ordinary small numbers alone). Order matters:
    * emails first, so an address's digits don't half-redact. */
  val DefaultRedactions: Seq[(String, String)] = Seq(
    "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}" -> "<email>",
    "[0-9]{6,}" -> "<num>")

  /** PII-style redaction — the scrubbing stage of a curation pipeline:
    * replace matches of each (pattern, token) rule in order. Patterns
    * must stay in the RE2-compatible subset (no backrefs/lookaround) so
    * the same strings run unchanged in RE2 engines (the DuckDB oracle,
    * external scrubbers) — [[normalize]]'s discipline. Pure codegen
    * projection: streaming-transparent and free to push past joins. */
  def redact(text: Column, rules: Seq[(String, String)] = DefaultRedactions): Column =
    rules.foldLeft(text) { case (acc, (p, t)) => regexp_replace(acc, p, t) }

  /** Default PII DETECTION patterns for [[piiIncidence]] — finer-grained
    * than [[DefaultRedactions]] (which collapses everything numeric):
    * emails, phone-ish digit runs (≥ 9 chars allowing separators), and
    * IPv4 literals. RE2-compatible by the same contract as [[redact]]. */
  val DefaultPiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    "phone" -> "\\+?[0-9][0-9\\- ]{7,}[0-9]",
    "ipv4" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b")

  /** PII incidence report — the measurement companion to [[redact]]
    * (audit BEFORE scrubbing, verify AFTER: a post-redaction run of the
    * same report must read zero): per `groupCol`, the doc count and how
    * many docs match each detection pattern. One map-side-combined agg
    * over a pure projection of codegen rlike flags — the corpus never
    * shuffles, the report is groups × (2 + patterns) values. Patterns
    * stay RE2-compatible ([[redact]]'s contract) so external engines
    * reproduce every flag. */
  def piiIncidence(df: DataFrame, groupCol: String, textCol: String,
      patterns: Seq[(String, String)] = DefaultPiiPatterns): DataFrame = {
    require(patterns.nonEmpty, "piiIncidence: no detection patterns")
    val aggs = count(lit(1)).as("n_docs") +: patterns.map { case (name, re) =>
      coalesce(sum(when(col(textCol).rlike(re), 1L).otherwise(0L)), lit(0L))
        .as(s"n_$name")
    }
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Corpus datasheet — the per-source summary table a dataset card
    * publishes (Gebru et al.'s datasheets; what HF dataset cards
    * tabulate): doc/token/char counts, mean (deci-integer) and median
    * token length, exact-duplicate incidence (distinct-text count via
    * md5 — the [[graft.dedup.Dedup]] exact key), and email-bearing doc
    * counts — one row per source, every column either an integer or a
    * long/long division, so the whole card is reproducible bit-for-bit.
    *
    * Scale shape: one map-side-combined agg per group for the counts
    * (count_distinct shuffles (group, md5) pairs — the exact-dedup
    * key shuffle the duplicate column inherently costs); the median
    * comes from the bounded per-group LENGTH HISTOGRAM (the
    * [[lengthPercentileGate]] argument) with the cumulative window
    * partitioned by group — never a corpus sort. */
  def corpusDatasheet(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val base = df.select(col(groupCol), col(textCol).as("__t"),
      size(tokens(col(textCol))).cast("bigint").as("__nt"),
      length(col(textCol)).cast("bigint").as("__nc"))
    val main = base.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("__nt")), lit(0L)).as("n_tokens"),
      coalesce(sum(col("__nc")), lit(0L)).as("n_chars"),
      count_distinct(md5(col("__t"))).as("n_distinct_texts"),
      coalesce(sum(when(col("__t").rlike(DefaultPiiPatterns.head._2), 1L)
        .otherwise(0L)), lit(0L)).as("n_email_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val med = base.groupBy(col(groupCol), col("__nt")).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(w.orderBy(col("__nt"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("__n", sum(col("__c")).over(w))
      .groupBy(col(groupCol))
      .agg(min(when(col("__cum") * 2 >= col("__n"), col("__nt"))).as("median_tokens"))
    main.join(med, Seq(groupCol))
      .withColumn("mean_tokens_x10", expr("(n_tokens * 10) div n_docs"))
      .withColumn("dup_frac",
        (col("n_docs") - col("n_distinct_texts")).cast("double") /
          col("n_docs").cast("double"))
  }

  /** Compression-ratio quality signal: deflate-compressed size over raw
    * size (low ratio = repetitive/templated text, a standard LLM-corpus
    * junk detector). JDK Deflater at a fixed level — deterministic for a
    * given input, but zlib-version-specific, so this is a diagnostics
    * column, not an oracle column. */
  val compressionRatio = udf { (text: String) =>
    val raw = text.getBytes("UTF-8")
    if (raw.isEmpty) 1.0
    else {
      val d = new java.util.zip.Deflater(6)
      d.setInput(raw); d.finish()
      // zlib worst case is raw + raw/1000 + ~12 bytes; margin avoids a
      // full-buffer stall on incompressible input
      val buf = new Array[Byte](raw.length + raw.length / 1000 + 64)
      var n = 0
      while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
      d.end()
      n.toDouble / raw.length
    }
  }

  /** Exact substring deduplication — the ExactSubstr operator of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al., ACL 2022): any `k`-token window whose exact content occurs at
    * more than one position in the corpus is a duplicated substring, and
    * every occurrence except the canonical FIRST (min (id, pos), so
    * exactly one copy of each repeated passage survives corpus-wide) has
    * its token span cut from its document. Finer-grained than
    * [[dedupLines]] (which needs the repeat to align with line breaks)
    * and than doc-level MinHash/SimHash (which drop or keep whole
    * documents): this removes the quoted boilerplate passage and keeps
    * the prose around it. Output: (idCol, `out` = the reassembled
    * surviving tokens, n_tokens, n_removed, n_spans) — one row per input
    * doc, empty-token docs pass through untouched.
    *
    * The paper builds a corpus-wide suffix array — inherently
    * single-machine-unfriendly. The Spark-first equivalent fixes the
    * match length at `k` and works on the k-gram occurrence stream:
    * positions sharing a gram hash ARE the suffix-array buckets of depth
    * k, and the span-union of overlapping cut windows recovers maximal
    * duplicated runs (two occurrences sharing an m > k run match on
    * every one of the m - k + 1 covering k-grams, so the merged island
    * is the full run — the suffix array's answer — widened to at most
    * k - 1 trailing tokens at the run's edges).
    *
    * Scale shape: the occurrence stream is one row per corpus token
    * ((id, pos, hash) — grams are hashed in-projection via
    * [[ngramHashes]], the dedup family's no-shingle-strings rule, so the
    * ONE keyed shuffle moves 8-byte longs). Each occurrence's duplicate
    * count and canonical owner come from count/min WINDOW functions over
    * the hash-keyed stream — ONE pass: the previous dictionary-agg +
    * occurrence-rescan + join form hashed the corpus grams twice and
    * (past broadcast size — the dictionary is unbounded, every
    * duplicated gram in the corpus) paid a second full-stream shuffle
    * for the SortMergeJoin; the window form shuffles and sorts the
    * stream once and was measured 1.6x faster end-to-end at sf0.1
    * (interleaved same-JVM A/B, r15 — it also beat persisting the
    * occurrence stream, which would cache a corpus-token-sized frame).
    * 100 TB memory bound: WindowExec buffers ONE gram-hash group at a
    * time per task and spills past
    * spark.sql.windowExec.buffer.spill.threshold, so a hot gram (a
    * footer in every doc) costs disk, not memory — fan-out stays
    * bounded by the gram's own occurrence count, never quadratic.
    * Island merge is a per-doc fold over CUT positions only (bounded by
    * doc length, the engine's bounded-doc assumption), never a
    * corpus-wide sort. */
  def dedupSpans(df: DataFrame, idCol: String, toksCol: String, k: Int = 20,
      out: String = "clean_text", posCap: Int = 1 << 21,
      sep: String = " "): DataFrame = {
    require(k >= 2, s"dedupSpans needs k >= 2 token windows, got $k")
    val base = df.select(col(idCol), col(toksCol).as("__ts"))
    // The owner reduction must stay a PRIMITIVE min: a struct(id, pos)
    // min would drop the window evaluation out of the primitive
    // fast path, while the composed long key keeps the per-group
    // buffer rows narrow. Hence numeric ids and the posCap bound
    // (id * posCap + pos must order like (id, pos)); docs past the cap
    // fail loudly, not mis-order.
    val occ = base.filter(size(col("__ts")) > 0)
      .select(col(idCol),
        when(size(col("__ts")) >= lit(posCap), raise_error(concat(
            lit(s"dedupSpans: doc exceeds posCap=$posCap tokens (id "),
            col(idCol).cast("string"),
            lit(s"); raise posCap — the owner key composes as id * posCap + pos"))))
          .otherwise(col("__ts")).as("__ts"))
      .withColumn("__grams", ngramHashes(col("__ts"), k))
      .select(col(idCol), posexplode(col("__grams")).as(Seq("__p", "__h")))
      .withColumn("__ok", col(idCol).cast("long") * posCap + col("__p"))
    // One pass over the occurrence stream: duplicate count and canonical
    // owner as windows over the gram hash (ngramHashes emits non-null
    // longs, so no null-key group can slip past the old inner join's
    // implicit null drop). Rows whose gram occurs once, or which ARE the
    // owner, fall out here exactly as the dictionary join dropped them.
    val hw = org.apache.spark.sql.expressions.Window.partitionBy("__h")
    val cuts = occ
      .withColumn("__c", count(lit(1)).over(hw))
      .withColumn("__own", min(col("__ok")).over(hw))
      .filter(col("__c") > 1 && col("__ok") =!= col("__own"))
      .select(col(idCol), col("__p"))
    // sorted fixed-width spans: e = p + k is monotone, so the fold's merge
    // never needs a max — a span either extends the last island's end or
    // (when p > last.e, a genuine gap) opens a new one; p == last.e is
    // adjacency and merges
    val empty = array().cast("array<struct<s:int,e:int>>")
    val islands = cuts.groupBy(idCol)
      .agg(sort_array(collect_list(col("__p"))).as("__ps"))
      .select(col(idCol),
        aggregate(col("__ps"), empty, (acc, p) =>
          when(size(acc) > 0 && p <= element_at(acc, -1)("e"),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(struct(element_at(acc, -1)("s").as("s"), (p + lit(k)).as("e")))))
          .otherwise(concat(acc,
            array(struct(p.as("s"), (p + lit(k)).as("e")))))).as("__spans"))
    base.join(islands, Seq(idCol), "left")
      .select(col(idCol), col("__ts"), coalesce(col("__spans"), empty).as("__sp"))
      .select(col(idCol),
        concat_ws(sep, filter(col("__ts"), (_, i) =>
          !exists(col("__sp"), sp => i >= sp("s") && i < sp("e")))).as(out),
        size(col("__ts")).cast("bigint").as("n_tokens"),
        // last span of a short doc (n < k) overhangs the end — clip there
        aggregate(col("__sp"), lit(0),
          (a, sp) => a + least(sp("e"), size(col("__ts"))) - sp("s"))
          .cast("bigint").as("n_removed"),
        size(col("__sp")).cast("bigint").as("n_spans"))
  }

  /** BPE-ish regex token count: runs of letters, runs of digits, or single
    * other non-space chars. Same pattern semantics in Java regex and RE2.
    * DuckDB: `len(regexp_extract_all(x, '[a-z]+|[0-9]+|[^a-z0-9 ]'))`. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("bigint")

  /** k-gram rolling hashes of a token array ([[Stable.hash64]] per gram).
    * Short docs (< k tokens) hash the whole token sequence. Runs as the
    * native codegen expression [[graft.functions.NgramHashesExpr]] —
    * token bytes extracted once per row, grams digested incrementally
    * (the HOF form re-sliced and re-concatenated k tokens per gram,
    * interpreted — ~10 µs/gram on ExactSubstr's corpus-token-sized
    * stream); the tests' `ReferenceForms.ngramHashesRef` keeps the
    * built-in-composed reference definition the expression must match
    * bit-for-bit (StableSpec). */
  def ngramHashes(toks: Column, k: Int): Column =
    graft.functions.NgramHashesExpr.ngramHashes(toks, k)

  /** Winnowing minima: min hash of each window of `w` consecutive gram
    * hashes, deduped and sorted. `grams` MUST be a materialized column
    * reference (see [[fingerprint]]) — passing the ngramHashes expression
    * inline re-evaluates all the md5s once per output element (O(G²)). */
  def winnow(grams: Column, w: Int): Column =
    array_sort(array_distinct(transform(
      sequence(lit(0), greatest(size(grams) - w, lit(0))),
      i => array_min(slice(grams, i + 1, lit(w))))))

  /** Winnowing-style document fingerprint: two projections so the gram
    * hashes are computed exactly once per row (the multi-referenced
    * non-cheap column blocks CollapseProject from inlining it). */
  def fingerprint(df: DataFrame, toksCol: String, k: Int, w: Int,
      out: String = "fps"): DataFrame =
    df.withColumn("__grams", ngramHashes(col(toksCol), k))
      .withColumn(out, winnow(col("__grams"), w))
      .drop("__grams")

  /** Document spans inside packed sequences — the attention-mask metadata
    * cross-document packing needs: when [[packSequences]]/[[packTokens]]
    * concatenate documents into fixed `seqLen` windows, the trainer must
    * know where each document starts and ends WITHIN each sequence to
    * block attention across document boundaries (the packed-sample
    * masking used by every published LM data pipeline). One row per
    * (sequence, document) overlap: (seq_id, idCol, span_start,
    * span_end) with local positions, span_end exclusive; zero-token
    * docs contribute no span. Consumers wanting one row per sequence
    * collect_list over seq_id (bounded: a sequence holds at most
    * `seqLen` spans, since every span is >= 1 token).
    *
    * Scale shape: the explode is bounded (a doc touches
    * ceil(n/seqLen)+1 sequences), everything else is the prefix sum
    * [[packSequences]] already does plus a projection — no new shuffle
    * pattern. */
  def packDocSpans(df: DataFrame, idCol: String, nTokCol: String,
      seqLen: Int): DataFrame =
    packSequences(df, idCol, nTokCol, seqLen)
      .filter(col(nTokCol) > 0)
      .select(col(idCol), col("tok_offset"), col(nTokCol).as("__n"),
        explode(sequence(col("first_seq"), col("last_seq"))).as("seq_id"))
      .select(col("seq_id"), col(idCol),
        greatest(col("tok_offset") - col("seq_id") * seqLen, lit(0L)).as("span_start"),
        least(col("tok_offset") + col("__n") - col("seq_id") * seqLen,
          lit(seqLen.toLong)).as("span_end"))

  /** Materialize the packed training sequences THEMSELVES — the
    * tensor-ready artifact that [[packSequences]] only addresses: place
    * every token of the (idCol, posCol, tokCol) rows at its global
    * position (per-doc offsets via the distributed prefix sum over
    * per-doc counts, ordered by idCol), cut every `seqLen`, and assemble
    * each sequence's ordered token array. Output: (seq_id, tokens) with
    * tokens.length == seqLen everywhere except the final partial
    * sequence.
    *
    * Scale shape: the offsets frame is one row per DOC (not per token)
    * and joins back key-partitioned on the id; the assembly is one
    * key-partitioned groupBy on seq_id whose groups hold exactly seqLen
    * tokens (bounded memory, no window); within-sequence order comes from
    * array_sort over (local pos, token) structs, not a sort shuffle. */
  def packTokens(tokens: DataFrame, idCol: String, posCol: String, tokCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    val counts = tokens.groupBy(idCol).agg(count(lit(1)).as("__n"))
    val offs = graft.sources.PrefixSum
      .withPrefixSum(counts, Seq(col(idCol)), "__n", "__off")
      .select(col(idCol), col("__off"))
    tokens.join(offs, Seq(idCol))
      .select((col("__off") + col(posCol)).as("__gpos"), col(tokCol))
      .select(expr(s"__gpos div $seqLen").as("seq_id"),
        pmod(col("__gpos"), lit(seqLen.toLong)).as("__lp"), col(tokCol))
      .groupBy("seq_id")
      .agg(transform(
        array_sort(collect_list(struct(col("__lp").as("p"), col(tokCol).as("t")))),
        e => e.getField("t")).as("tokens"))
  }

  /** Packing-efficiency card — the decision table for choosing a
    * training sequence length BEFORE committing to a [[packSequences]]
    * run: for each candidate `seqLen`, the sequence count the pack
    * would produce and the padding waste it would pay. Cross-document
    * concatenation pads only the FINAL sequence, so the whole card is
    * closed-form in (n_docs, total_tokens): n_sequences =
    * ⌈total/seqLen⌉ — identical by construction to
    * `max(last_seq) + 1` of the actual pack (same integer formula,
    * [[packSequencesOrdered]]) — and pad_tokens = n_seq·seqLen − total.
    * waste_ppm is the integer-ppm share of slots padding wastes.
    * Output: one row per seqLen — (n_docs, total_tokens, seq_len,
    * n_sequences, pad_tokens, waste_ppm).
    *
    * Scale shape: ONE map-side-combined agg to a single row, then a
    * literal explode — deliberately NOT `seqLens.length` prefix-sum
    * runs: the card must stay free when the pack itself is the
    * expensive step being budgeted. */
  def packEfficiency(df: DataFrame, nTokCol: String,
      seqLens: Seq[Int]): DataFrame = {
    require(seqLens.nonEmpty && seqLens.forall(_ > 0),
      s"packEfficiency: seqLens must be positive and non-empty: $seqLens")
    df.agg(
        coalesce(sum(when(col(nTokCol) > 0, 1L).otherwise(0L)), lit(0L))
          .as("n_docs"),
        coalesce(sum(col(nTokCol)), lit(0L)).as("total_tokens"))
      .select(col("n_docs"), col("total_tokens"),
        explode(array(seqLens.map(l => lit(l.toLong)): _*)).as("seq_len"))
      .withColumn("n_sequences",
        expr("(total_tokens + seq_len - 1) div seq_len"))
      .withColumn("pad_tokens",
        col("n_sequences") * col("seq_len") - col("total_tokens"))
      .withColumn("waste_ppm",
        when(col("n_sequences") > 0,
          expr("(pad_tokens * 1000000) div (n_sequences * seq_len)"))
          .otherwise(lit(0L)))
  }

  /** Pack tokenized documents into fixed-length training sequences (the
    * LLM-pretraining layout: concatenate docs in id order, cut every
    * `seqLen` tokens; docs may span sequence boundaries). Emits each doc's
    * global token offset and the first/last sequence ids it lands in.
    * The global offsets are a distributed prefix sum
    * ([[graft.sources.PrefixSum]]) — never a single-partition running-sum
    * window. `nTokCol` must be bigint (use `size(toks).cast("bigint")`). */
  def packSequences(df: DataFrame, idCol: String, nTokCol: String,
      seqLen: Int): DataFrame =
    packSequencesOrdered(df, idCol, nTokCol, seqLen, Nil)

  /** [[packSequences]] in an explicit curriculum ORDER — the published
    * data-ordering recipes (curriculum learning: concatenate easiest /
    * most-fluent text first, e.g. ascending perplexity; anti-curriculum
    * reverses the key): documents concatenate in `orderBy` order with
    * `idCol` appended as the tie-break (the prefix sum requires a TOTAL
    * order — ties would make offsets nondeterministic under retries),
    * then cut every `seqLen` tokens. Ordering changes the range-sort
    * key, not the shape: same distributed prefix sum, no new shuffle
    * pattern, and downstream span/split machinery composes unchanged
    * because the output contract is identical. */
  def packSequencesOrdered(df: DataFrame, idCol: String, nTokCol: String,
      seqLen: Int, orderBy: Seq[Column]): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    graft.sources.PrefixSum
      .withPrefixSum(df, orderBy :+ col(idCol), nTokCol, "tok_offset")
      .withColumn("first_seq", expr(s"tok_offset div $seqLen"))
      .withColumn("last_seq",
        when(col(nTokCol) > 0, expr(s"(tok_offset + $nTokCol - 1) div $seqLen"))
          .otherwise(expr(s"tok_offset div $seqLen")))
  }

  /** [[packSequencesOrdered]] restarted PER GROUP — every group value is
    * its own training stream with its own token offsets and sequence
    * numbering from 0 (per-epoch packing of a [[graft.text.Curation
    * .curriculum]] schedule, per-split packing of train/valid/test).
    * Same output contract per group as the global pack; the only
    * additions over the global form are the |groups|-row starts agg and
    * a group-keyed subtraction join
    * ([[graft.sources.PrefixSum.withGroupedPrefixSum]]). */
  def packSequencesGrouped(df: DataFrame, groupCols: Seq[String],
      idCol: String, nTokCol: String, seqLen: Int,
      orderBy: Seq[Column] = Nil): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    graft.sources.PrefixSum
      .withGroupedPrefixSum(df, groupCols, orderBy :+ col(idCol), nTokCol,
        "tok_offset")
      .withColumn("first_seq", expr(s"tok_offset div $seqLen"))
      .withColumn("last_seq",
        when(col(nTokCol) > 0, expr(s"(tok_offset + $nTokCol - 1) div $seqLen"))
          .otherwise(expr(s"tok_offset div $seqLen")))
  }
}
