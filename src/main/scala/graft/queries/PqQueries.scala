package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.functions.Stable
import graft.sources.Tables

/** Product-quantization ANN queries ([[graft.ann.Ann.pqTopK]] /
  * [[graft.ann.Ann.ivfPqTopK]]) — the code-compression tier of the
  * similarity-search kit (Jégou et al. 2011): int8-quantize, split into
  * m subspaces, per-subspace L2 Lloyd codebooks from a seeded sample,
  * m-byte codes per vector, ADC candidate scoring against per-query
  * lookup tables, exact rerank; the IVF composition adds a coarse
  * quantizer so a query touches only its nProbe inverted lists.
  *
  * The entire construction is deterministic (seeded sample, integer
  * Lloyd sufficient statistics, fixed-order double folds), so the
  * DuckDB oracle replays it end-to-end — codebook training included —
  * and the compare is hash-exact, same as the LSH/IVF/JL tiers. */
object PqQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PQ-ADC top-k ([[Ann.pqTopK]]): 64-dim embeddings → 4 subspaces ×
    // 16 centroids (one Lloyd step from the seeded sample) → 4 codes +
    // a reconstructed norm per vector; candidates score via the
    // gather-sum LUT kernel, the 100-candidate shortlist reranks at
    // full dimension. Emitting (query_id, rank, neighbor_id) — the
    // q30/q31 ANN contract — checks codebook training, encoding, ADC
    // ordering, and the rerank in one row set.
    "q226_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.pqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, m = 4, ksub = 16, oversample = 20, seed = 42, iters = 1)
    }),

    // PQ recall report ([[Ann.recallReport]] over two code widths): the
    // measured compression/recall trade — m=4 (16 bytes of float → 4
    // codes, 64× vector-byte cut through the candidate stream) vs m=8
    // (32×, finer reconstruction) against the exact top-5 on the same
    // 50-query probe. The "measure, don't guess" gate before choosing
    // a code width for a 100 TB embedding pass (q106's harness).
    "q227_pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 50)
      val ex = Ann.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5)
      Ann.recallReport(ex, Seq(
        "pq_m4" -> Ann.pqTopK(emb, qs, "vec_id", "embedding", k = 5,
          m = 4, ksub = 16, oversample = 20, seed = 42, iters = 1),
        "pq_m8" -> Ann.pqTopK(emb, qs, "vec_id", "embedding", k = 5,
          m = 8, ksub = 16, oversample = 20, seed = 42, iters = 1)))
    }),

    // IVF + PQ top-k ([[Ann.ivfPqTopK]]): the two scale levers composed
    // — q39's 16-centroid coarse quantizer restricts each query to its
    // 4 probed inverted lists (scan cut), q226's PQ codes score the
    // survivors through the gather-sum kernel (byte cut), exact rerank.
    // One row set checks coarse assignment, probe selection, the
    // list-restricted ADC ordering, and the rerank together.
    "q228_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4, m = 4, ksub = 16,
        oversample = 20, seed = 42, iters = 1)
    }),

    // IVF-PQ recall report: the nProbe trade measured — 2/4/8 probed
    // lists out of 16 against the exact top-5 on the same 50-query
    // probe (each tier pays PQ's code-resolution loss PLUS the
    // probe-miss loss; q227 isolates the former, this isolates the
    // latter). The "measure, don't guess" gate the ivfPqTopK scaladoc
    // promises before choosing nProbe for a deployment.
    "q230_ivfpq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 50)
      val ex = Ann.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5)
      // Train + encode ONCE for the whole nProbe sweep (VERDICT r13 #2:
      // three ivfPqTopK calls retrained the identical seeded state and
      // re-encoded the corpus 3×). The tiers differ only in how many
      // lists a query probes, so they share one [[Ann.ivfPqEncode]] pass
      // — persisted: codes are m ints + a double per row, the 20-60×
      // smaller object — and probe it via [[Ann.pqProbe]], which q229
      // pins bit-identical to the in-memory ivfPqTopK. Measured at
      // sf0.1: 4.6 s (r13, 3× train) → ~2 s single-train.
      val (encL, cents, cbs) = Ann.ivfPqEncode(emb, "vec_id", "embedding",
        seed = 42, nCentroids = 16, m = 4, ksub = 16, iters = 1)
      val enc = encL.persist()
      def tier(nProbe: Int) =
        Ann.pqProbe(enc, cents, cbs, qs, "vec_id", "embedding", k = 5,
          nProbe = nProbe, oversample = 20, rerankCorpus = Some(emb),
          broadcastProbe = true)
      Ann.recallReport(ex, Seq(
        "ivfpq_p2" -> tier(2), "ivfpq_p4" -> tier(4), "ivfpq_p8" -> tier(8)))
    }),

    // The persisted IVF-PQ index ([[Ann.writePqIndex]]): train coarse
    // quantizer + codebooks once, land CODES (m ints + a norm per
    // vector — not the floats) as a cid-bucketed table with the
    // quantizers as sidecars, then answer a FRESH query batch purely
    // from the reloaded artifact (probe projection + ADC + rerank
    // against the source frame). Probe-of-artifact ≡ in-memory
    // ivfPqTopK bit-for-bit, so the oracle rebuilds the identical
    // chain from raw embeddings — the q78 loop-closure pattern for
    // the compressed tier.
    "q229_pq_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // Artifact path AND table name carry an sf-dir fingerprint: two
      // verify/bench processes at different scales on the same box must
      // not overwrite each other's index mid-query (a flaky oracle
      // mismatch otherwise — same isolation rule as the q78 store).
      val tag = f"${dir.hashCode & 0x7fffffff}%08x"
      val table = s"graft_q229_index_$tag"
      val path = s"${System.getProperty("java.io.tmpdir")}/$table"
      Ann.writePqIndex(emb, table, path, "vec_id", "embedding",
        seed = 42, nCentroids = 16, m = 4, ksub = 16, iters = 1)
      val (index, cents, cbs) = Ann.readPqIndex(s, table, path)
      // broadcastProbe: the batch is ~1/20th of the corpus — the
      // bucketed list side then reads in place with no sort at all.
      Ann.pqProbe(index, cents, cbs, emb.filter(col("vec_id") % 20 === 3),
        "vec_id", "embedding", k = 5, nProbe = 4, oversample = 20,
        rerankCorpus = Some(emb), broadcastProbe = true)
    }),

    // RESIDUAL IVF-PQ top-k ([[Ann.ivfPqTopKResidual]], Jégou §IV): the
    // same two levers as q228, but each vector's m bytes encode its
    // OFFSET from its own coarse list's quantized centroid instead of
    // the global direction — the coarse quantizer has already explained
    // the list-level structure, so the codebook spends its resolution
    // on what remains. Same contract rows (query_id, rank, neighbor_id);
    // the oracle replays centroid quantization, the integer-domain
    // residuals, residual codebook training, the decomposed ADC score,
    // and the rerank.
    "q231_ivfpq_residual" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfPqTopKResidual(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, nCentroids = 16, nProbe = 4, m = 4, ksub = 16,
        oversample = 20, seed = 42, iters = 1)
    }),

    // Global vs residual codes at FIXED (m=4, nProbe=4) — the measured
    // answer to "does §IV's residual step pay at identical bytes?"
    // (VERDICT r13 #7). Each tier single-trains through its encode path
    // (q230's discipline) and probes the same 50 queries against the
    // same exact top-5.
    "q232_residual_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 50)
      val ex = Ann.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5)
      // Both tiers quantize with the SAME seeded coarse sample — train
      // it once and inject it (ivfPqEncode's coarsePre contract); the
      // residual tier still trains its own codebooks (that difference
      // is the thing being measured).
      val coarse = Ann.sampleCentroids(emb, "vec_id", "embedding",
        seed = 42, nCentroids = 16)
      val (ge, gc, gcb) = Ann.ivfPqEncode(emb, "vec_id", "embedding",
        seed = 42, nCentroids = 16, m = 4, ksub = 16, iters = 1,
        coarsePre = Some(coarse))
      val (re, rc, rqc, rcb) = Ann.ivfPqEncodeResidual(emb, "vec_id",
        "embedding", seed = 42, nCentroids = 16, m = 4, ksub = 16, iters = 1,
        coarsePre = Some(coarse))
      Ann.recallReport(ex, Seq(
        "ivfpq_global" -> Ann.pqProbe(ge, gc, gcb, qs, "vec_id", "embedding",
          k = 5, nProbe = 4, oversample = 20, rerankCorpus = Some(emb),
          broadcastProbe = true),
        "ivfpq_residual" -> Ann.pqProbeResidual(re, rc, rqc, rcb, qs,
          "vec_id", "embedding", k = 5, nProbe = 4, oversample = 20,
          rerankCorpus = Some(emb), broadcastProbe = true)))
    }),

    // The GROWING compressed index ([[Ann.writePqIndex]] `growing` +
    // [[Ann.appendPqBatch]]): quantizers train on the SEED corpus only
    // (4/5 of the vectors), a later batch (the remaining 1/5) encodes
    // against the frozen quantizers and lands as its own partition, and
    // a fresh query batch probes the UNION — append ≡ retrain-free
    // encode-everything, which is exactly what the oracle replays
    // (training CTEs restricted to the seed predicate, encoding over
    // every row). The daily-append serving shape at 100 TB: the 20-60×
    // smaller code artifact grows in place, lists never move, the
    // probe-side join stays exchange-free by bucket spec.
    "q233_pq_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seedCorpus = emb.filter(col("vec_id") % 5 =!= 4)
      val batch = emb.filter(col("vec_id") % 5 === 4)
      val tag = f"${dir.hashCode & 0x7fffffff}%08x"
      val table = s"graft_q233_index_$tag"
      val path = s"${System.getProperty("java.io.tmpdir")}/$table"
      Ann.writePqIndex(seedCorpus, table, path, "vec_id", "embedding",
        seed = 42, nCentroids = 16, m = 4, ksub = 16, iters = 1, growing = true)
      val (_, cents, cbs) = Ann.readPqIndex(s, table, path)
      Ann.appendPqBatch(batch, table, cents, cbs, batchId = 0,
        "vec_id", "embedding")
      Ann.pqProbe(s.table(table), cents, cbs,
        emb.filter(col("vec_id") % 20 === 7), "vec_id", "embedding",
        k = 5, nProbe = 4, oversample = 20, rerankCorpus = Some(emb),
        broadcastProbe = true)
    }),

    // OPQ-permuted PQ top-k ([[Ann.opqTopK]]): the energy-balancing
    // dimension permutation (parametric-free OPQ, Ge et al. 2014) in
    // front of the verbatim q226 chain — same bytes, same contract, a
    // rebalanced subspace split. The oracle re-derives the permutation
    // from per-position HUGEINT energy stats and replays the whole
    // chain in the permuted space, hash-exact.
    "q234_opq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.opqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, m = 4, ksub = 16, oversample = 20, seed = 42, iters = 1)
    }),

    // PQ vs OPQ-permuted PQ at IDENTICAL bytes (m=4, ksub=16) — the
    // measured answer to "does the zero-cost rotation pay?", against
    // the exact top-5 on the same 50-query probe (q227's harness).
    "q235_opq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 50)
      val ex = Ann.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5)
      Ann.recallReport(ex, Seq(
        "pq_m4" -> Ann.pqTopK(emb, qs, "vec_id", "embedding", k = 5,
          m = 4, ksub = 16, oversample = 20, seed = 42, iters = 1),
        "opq_m4" -> Ann.opqTopK(emb, qs, "vec_id", "embedding", k = 5,
          m = 4, ksub = 16, oversample = 20, seed = 42, iters = 1)))
    }))

  private def cos(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** The shared PQ CTE body (no WITH keyword), parameterized the same
    * way as [[Ann.pqCodebooks]]/[[Ann.pqEncode]] (iters = 1, dim = 64):
    * quantization (q62's CTEs), the seeded ksub-row sample, per-subspace
    * round-1 L2 assignment + integer sufficient statistics + s/n
    * refinement (q89's Lloyd pattern, with the subspace id as an extra
    * key), encode, the ordered-fold reconstructed norm. Cross-engine
    * exactness: every sum that crosses engines is either an integer or
    * a `list_dot_product` against a ones-vector — the same
    * left-to-right fold [[graft.functions.GatherSumExpr]] and the
    * Scala-side norm folds use. Ends with:
    * `x(vec_id, j, xv)` the subvectors, `cb1(j, cid, cv)` the refined
    * codebooks, `enc(vec_id, j, cid)` the codes, `rn2(vec_id, rnorm2)`
    * the squared reconstructed norms, `h(vec_id, qv, hh)` the seeded
    * hash frame, `e(vec_id, v)` the raw vectors. */
  /** The quantization prefix shared by the global and residual PQ
    * oracles: raw vectors `e`, int8 quantization `q` ([[Ann.quantize]]'s
    * formula), the seeded id-hash frame `h`, subspace ids `js`, and the
    * quantized subvectors `x`. */
  private def quantCtes(m: Int,
      eDef: String =
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)")
      : String = {
    val dsub = 64 / m
    s"""$eDef,
       |sc AS (SELECT vec_id, v,
       |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS qscale FROM e),
       |q AS (SELECT vec_id,
       |  CASE WHEN qscale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
       |       ELSE list_transform(v, x -> floor(x / qscale + 0.5)) END AS qv
       |  FROM sc),
       |h AS (SELECT vec_id, qv, ${Stable.duckSeededHash(42, "vec_id")} AS hh FROM q),
       |js AS (SELECT unnest(generate_series(0, ${m - 1})) AS j),
       |x AS (SELECT vec_id, js.j, qv[(js.j*$dsub+1):((js.j+1)*$dsub)] AS xv
       |      FROM q, js)""".stripMargin
  }

  /** `trainPred` restricts TRAINING (the seeded codebook sample and the
    * Lloyd statistics) to a subset of the corpus — the append scenario,
    * where quantizers are frozen on the seed corpus and later batches
    * only ENCODE (q233). Encoding (`enc`, `rn2`) always covers every
    * row. Default TRUE = train on everything (q226-q232). */
  private def pqCtes(m: Int, ksub: Int, trainPred: String = "TRUE",
      eDef: String =
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)")
      : String = {
    val dsub = 64 / m
    val ones = Seq.fill(m)("1.0").mkString("[", ", ", "]")
    s"""${quantCtes(m, eDef)},
       |samp AS (SELECT qv, row_number() OVER (ORDER BY hh) - 1 AS cid
       |         FROM (SELECT * FROM h WHERE $trainPred ORDER BY hh LIMIT $ksub)),
       |cb0 AS (SELECT js.j, s.cid, s.qv[(js.j*$dsub+1):((js.j+1)*$dsub)] AS cv
       |        FROM samp s, js),
       |a1 AS (SELECT vec_id, j, cid FROM (
       |  SELECT x.vec_id, x.j, c.cid,
       |    row_number() OVER (PARTITION BY x.vec_id, x.j
       |      ORDER BY list_dot_product(c.cv, c.cv)
       |             - 2 * list_dot_product(x.xv, c.cv) ASC, c.cid ASC) AS rn
       |  FROM x JOIN cb0 c ON c.j = x.j WHERE $trainPred) WHERE rn = 1),
       |st AS (SELECT j, cid, i - 1 AS pos, count(*) AS n, sum(xv[i]) AS s
       |       FROM (SELECT a1.j, a1.cid, x.xv,
       |               unnest(generate_series(1, $dsub)) AS i
       |             FROM a1 JOIN x ON x.vec_id = a1.vec_id AND x.j = a1.j)
       |       GROUP BY 1, 2, 3),
       |cb1r AS (SELECT j, cid, list(s / CAST(n AS DOUBLE) ORDER BY pos) AS cv
       |         FROM st GROUP BY 1, 2),
       |cb1 AS (SELECT * FROM cb1r
       |        UNION ALL
       |        SELECT c.j, c.cid, c.cv FROM cb0 c
       |        WHERE NOT EXISTS (SELECT 1 FROM cb1r r
       |                          WHERE r.j = c.j AND r.cid = c.cid)),
       |enc AS (SELECT vec_id, j, cid FROM (
       |  SELECT x.vec_id, x.j, c.cid,
       |    row_number() OVER (PARTITION BY x.vec_id, x.j
       |      ORDER BY list_dot_product(c.cv, c.cv)
       |             - 2 * list_dot_product(x.xv, c.cv) ASC, c.cid ASC) AS rn
       |  FROM x JOIN cb1 c ON c.j = x.j) WHERE rn = 1),
       |rn2 AS (SELECT en.vec_id,
       |          list_dot_product(
       |            list(list_dot_product(c.cv, c.cv) ORDER BY en.j), $ones) AS rnorm2
       |        FROM enc en JOIN cb1 c ON c.j = en.j AND c.cid = en.cid
       |        GROUP BY en.vec_id)""".stripMargin
  }

  /** ADC scoring + shortlist + exact rerank given `contrib(query_id,
    * neighbor_id, j, d)` — shared by the flat-PQ and IVF-PQ oracles. */
  private def pqTail(m: Int, k: Int, oversample: Int): String = {
    val ones = Seq.fill(m)("1.0").mkString("[", ", ", "]")
    s"""adc AS (SELECT query_id, neighbor_id,
       |          list_dot_product(list(d ORDER BY j), $ones) AS num
       |        FROM contrib GROUP BY 1, 2),
       |csim AS (SELECT a.query_id, a.neighbor_id, a.num / sqrt(r.rnorm2) AS sim
       |         FROM adc a JOIN rn2 r ON r.vec_id = a.neighbor_id
       |         WHERE r.rnorm2 > 0),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id ASC) AS rn FROM csim)
       |  WHERE rn <= ${k * oversample}),
       |rr AS (SELECT c.query_id, c.neighbor_id,
       |         ${cos("qe.v", "ce.v")} AS sim
       |       FROM cand c
       |       JOIN e ce ON ce.vec_id = c.neighbor_id
       |       JOIN e qe ON qe.vec_id = c.query_id)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id ASC) AS rn FROM rr)
       |WHERE rn <= $k""".stripMargin
  }

  /** The flat-PQ pipeline ([[Ann.pqTopK]]) in SQL: [[pqCtes]] + ADC over
    * EVERY encoded row + [[pqTail]]. */
  private def duckPq(m: Int, ksub: Int, k: Int, oversample: Int,
      qPred: String): String =
    s"""WITH ${pqCtes(m, ksub)},
       |qq AS (SELECT vec_id AS query_id, j, xv AS qsub FROM x WHERE $qPred),
       |contrib AS (SELECT qq.query_id, en.vec_id AS neighbor_id, qq.j,
       |              list_dot_product(qq.qsub, c.cv) AS d
       |            FROM qq
       |            JOIN enc en ON en.j = qq.j AND en.vec_id <> qq.query_id
       |            JOIN cb1 c ON c.j = en.j AND c.cid = en.cid),
       |${pqTail(m, k, oversample)}""".stripMargin

  /** The IVF-PQ pipeline ([[Ann.ivfPqTopK]]) in SQL: [[pqCtes]] + q39's
    * coarse-quantizer CTEs (seeded raw-vector sample, cosine assignment
    * with rank ties to the lower centroid id — `cranked` serves both
    * the corpus assignment at rn = 1 and the query probe lists at
    * rn <= nProbe) + ADC restricted to probed lists + [[pqTail]]. */
  private def duckIvfPq(m: Int, ksub: Int, nCentroids: Int, nProbe: Int,
      k: Int, oversample: Int, qPred: String,
      trainPred: String = "TRUE"): String =
    s"""WITH ${pqCtes(m, ksub, trainPred)},
       |cent AS (SELECT e2.v AS ccv, t.ccid
       |         FROM (SELECT vec_id, row_number() OVER (ORDER BY hh) - 1 AS ccid
       |               FROM (SELECT * FROM h WHERE $trainPred
       |                     ORDER BY hh LIMIT $nCentroids)) t
       |         JOIN e e2 ON e2.vec_id = t.vec_id),
       |csims AS (SELECT e.vec_id, c.ccid, ${cos("e.v", "c.ccv")} AS sim
       |          FROM e, cent c),
       |cranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                         ORDER BY sim DESC, ccid ASC) AS rn
       |            FROM csims),
       |casg AS (SELECT vec_id, ccid FROM cranked WHERE rn = 1),
       |qprobe AS (SELECT vec_id AS query_id, ccid FROM cranked
       |           WHERE rn <= $nProbe AND ($qPred)),
       |qq AS (SELECT vec_id AS query_id, j, xv AS qsub FROM x WHERE $qPred),
       |contrib AS (SELECT qq.query_id, en.vec_id AS neighbor_id, qq.j,
       |              list_dot_product(qq.qsub, c.cv) AS d
       |            FROM qq
       |            JOIN enc en ON en.j = qq.j AND en.vec_id <> qq.query_id
       |            JOIN casg ON casg.vec_id = en.vec_id
       |            JOIN qprobe p ON p.query_id = qq.query_id
       |                         AND p.ccid = casg.ccid
       |            JOIN cb1 c ON c.j = en.j AND c.cid = en.cid),
       |${pqTail(m, k, oversample)}""".stripMargin

  /** The RESIDUAL IVF-PQ pipeline ([[Ann.ivfPqTopKResidual]]) in SQL —
    * Jégou §IV replayed end-to-end: [[quantCtes]] + the coarse
    * quantizer (raw-vector cosine assignment, [[duckIvfPq]]'s CTEs) +
    * centroid quantization with [[Ann.quantize]]'s exact formula +
    * residual vectors r = qv − qcv in the integer domain + codebook
    * training/encoding over the residual subvectors (the same seeded
    * sample ids, round-1 L2 assignment, integer sufficient statistics,
    * s/n refinement) + the decomposed ADC score
    * (q·qc[cid] + Σ_j lut[code_j]) / ‖qc[cid] + r̂‖ + exact rerank.
    * Every cross-engine sum is an integer, a list_dot_product, or a
    * fixed-order fold — hash-exact like the global tier. */
  private def duckIvfPqResidual(m: Int, ksub: Int, nCentroids: Int,
      nProbe: Int, k: Int, oversample: Int, qPred: String): String = {
    val dsub = 64 / m
    val ones = Seq.fill(m)("1.0").mkString("[", ", ", "]")
    s"""WITH ${quantCtes(m)},
       |cent AS (SELECT e2.v AS ccv, t.ccid
       |         FROM (SELECT vec_id, row_number() OVER (ORDER BY hh) - 1 AS ccid
       |               FROM (SELECT * FROM h ORDER BY hh LIMIT $nCentroids)) t
       |         JOIN e e2 ON e2.vec_id = t.vec_id),
       |qcent AS (SELECT ccid,
       |  CASE WHEN qs = 0 THEN list_transform(ccv, x -> CAST(0 AS DOUBLE))
       |       ELSE list_transform(ccv, x -> floor(x / qs + 0.5)) END AS qcv
       |  FROM (SELECT ccid, ccv,
       |          list_max(list_transform(ccv, x -> abs(x))) / 127.0 AS qs
       |        FROM cent)),
       |csims AS (SELECT e.vec_id, c.ccid, ${cos("e.v", "c.ccv")} AS sim
       |          FROM e, cent c),
       |cranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                         ORDER BY sim DESC, ccid ASC) AS rn
       |            FROM csims),
       |casg AS (SELECT vec_id, ccid FROM cranked WHERE rn = 1),
       |rq AS (SELECT q.vec_id, casg.ccid,
       |         list_transform(generate_series(1, 64), i -> q.qv[i] - qc.qcv[i]) AS rv
       |       FROM q JOIN casg ON casg.vec_id = q.vec_id
       |       JOIN qcent qc ON qc.ccid = casg.ccid),
       |rx AS (SELECT vec_id, js.j, rv[(js.j*$dsub+1):((js.j+1)*$dsub)] AS xv
       |       FROM rq, js),
       |rsamp AS (SELECT rq.rv, t.cid
       |          FROM (SELECT vec_id, row_number() OVER (ORDER BY hh) - 1 AS cid
       |                FROM (SELECT * FROM h ORDER BY hh LIMIT $ksub)) t
       |          JOIN rq ON rq.vec_id = t.vec_id),
       |rcb0 AS (SELECT js.j, s.cid, s.rv[(js.j*$dsub+1):((js.j+1)*$dsub)] AS cv
       |         FROM rsamp s, js),
       |ra1 AS (SELECT vec_id, j, cid FROM (
       |  SELECT rx.vec_id, rx.j, c.cid,
       |    row_number() OVER (PARTITION BY rx.vec_id, rx.j
       |      ORDER BY list_dot_product(c.cv, c.cv)
       |             - 2 * list_dot_product(rx.xv, c.cv) ASC, c.cid ASC) AS rn
       |  FROM rx JOIN rcb0 c ON c.j = rx.j) WHERE rn = 1),
       |rst AS (SELECT j, cid, i - 1 AS pos, count(*) AS n, sum(xv[i]) AS s
       |        FROM (SELECT ra1.j, ra1.cid, rx.xv,
       |                unnest(generate_series(1, $dsub)) AS i
       |              FROM ra1 JOIN rx ON rx.vec_id = ra1.vec_id AND rx.j = ra1.j)
       |        GROUP BY 1, 2, 3),
       |rcb1r AS (SELECT j, cid, list(s / CAST(n AS DOUBLE) ORDER BY pos) AS cv
       |          FROM rst GROUP BY 1, 2),
       |rcb1 AS (SELECT * FROM rcb1r
       |         UNION ALL
       |         SELECT c.j, c.cid, c.cv FROM rcb0 c
       |         WHERE NOT EXISTS (SELECT 1 FROM rcb1r r
       |                           WHERE r.j = c.j AND r.cid = c.cid)),
       |renc AS (SELECT vec_id, j, cid FROM (
       |  SELECT rx.vec_id, rx.j, c.cid,
       |    row_number() OVER (PARTITION BY rx.vec_id, rx.j
       |      ORDER BY list_dot_product(c.cv, c.cv)
       |             - 2 * list_dot_product(rx.xv, c.cv) ASC, c.cid ASC) AS rn
       |  FROM rx JOIN rcb1 c ON c.j = rx.j) WHERE rn = 1),
       |rrn2 AS (SELECT vec_id,
       |           list_dot_product(list(t ORDER BY j), $ones) AS rnorm2
       |         FROM (
       |  SELECT en.vec_id, en.j,
       |    list_dot_product(
       |      list_transform(generate_series(1, $dsub),
       |                     i -> qc.qcv[en.j*$dsub + i] + c.cv[i]),
       |      list_transform(generate_series(1, $dsub),
       |                     i -> qc.qcv[en.j*$dsub + i] + c.cv[i])) AS t
       |  FROM renc en
       |  JOIN casg ON casg.vec_id = en.vec_id
       |  JOIN qcent qc ON qc.ccid = casg.ccid
       |  JOIN rcb1 c ON c.j = en.j AND c.cid = en.cid)
       |         GROUP BY vec_id),
       |qprobe AS (SELECT vec_id AS query_id, ccid FROM cranked
       |           WHERE rn <= $nProbe AND ($qPred)),
       |qq AS (SELECT vec_id AS query_id, j, xv AS qsub FROM x WHERE $qPred),
       |qdc AS (SELECT p.query_id, p.ccid, list_dot_product(q.qv, qc.qcv) AS qdc
       |        FROM qprobe p JOIN q ON q.vec_id = p.query_id
       |        JOIN qcent qc ON qc.ccid = p.ccid),
       |contrib AS (SELECT qq.query_id, en.vec_id AS neighbor_id, qq.j,
       |              list_dot_product(qq.qsub, c.cv) AS d
       |            FROM qq
       |            JOIN renc en ON en.j = qq.j AND en.vec_id <> qq.query_id
       |            JOIN casg ON casg.vec_id = en.vec_id
       |            JOIN qprobe p ON p.query_id = qq.query_id
       |                         AND p.ccid = casg.ccid
       |            JOIN rcb1 c ON c.j = en.j AND c.cid = en.cid),
       |adc AS (SELECT query_id, neighbor_id,
       |          list_dot_product(list(d ORDER BY j), $ones) AS num
       |        FROM contrib GROUP BY 1, 2),
       |csim AS (SELECT a.query_id, a.neighbor_id,
       |           (qd.qdc + a.num) / sqrt(r.rnorm2) AS sim
       |         FROM adc a
       |         JOIN rrn2 r ON r.vec_id = a.neighbor_id
       |         JOIN casg cg ON cg.vec_id = a.neighbor_id
       |         JOIN qdc qd ON qd.query_id = a.query_id AND qd.ccid = cg.ccid
       |         WHERE r.rnorm2 > 0),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id ASC) AS rn FROM csim)
       |  WHERE rn <= ${k * oversample}),
       |rr AS (SELECT c.query_id, c.neighbor_id,
       |         ${cos("qe.v", "ce.v")} AS sim
       |       FROM cand c
       |       JOIN e ce ON ce.vec_id = c.neighbor_id
       |       JOIN e qe ON qe.vec_id = c.query_id)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id ASC) AS rn FROM rr)
       |WHERE rn <= $k""".stripMargin
  }

  /** The OPQ energy-balancing permutation ([[Ann.opqPermutation]])
    * replayed in SQL, emitted as [[quantCtes]]' `eDef`: quantize the raw
    * corpus (the same int8 formula — re-derived here because the
    * permuted `e` this prefix builds is what the shared chain will
    * quantize again; scale is a max over components, so the two
    * quantizations agree), accumulate per-position HUGEINT (n, Σx, Σx²),
    * rank positions by n·Σx² − (Σx)² descending (ties to the lower
    * position), deal rank r to destination slot (r % m)·dsub + r÷m + 1,
    * and rebuild `e` as the permuted vectors. Everything downstream —
    * training, encoding, ADC, the exact rerank — is the verbatim PQ
    * chain in the permuted space, exactly like [[Ann.opqTopK]]. */
  private def opqEDef(m: Int): String = {
    val dsub = 64 / m
    s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |sc0 AS (SELECT vec_id, v,
       |          list_max(list_transform(v, x -> abs(x))) / 127.0 AS qscale FROM e0),
       |q0 AS (SELECT vec_id,
       |  CASE WHEN qscale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
       |       ELSE list_transform(v, x -> floor(x / qscale + 0.5)) END AS qv
       |  FROM sc0),
       |pst AS (SELECT ii.i AS pos, count(*) AS n,
       |          sum(CAST(qv[ii.i] AS HUGEINT)) AS s,
       |          sum(CAST(qv[ii.i] AS HUGEINT) * CAST(qv[ii.i] AS HUGEINT)) AS ss
       |        FROM q0, (SELECT unnest(generate_series(1, 64)) AS i) ii
       |        GROUP BY 1),
       |prk AS (SELECT pos,
       |          row_number() OVER (ORDER BY n*ss - s*s DESC, pos ASC) - 1 AS r
       |        FROM pst),
       |pmap AS (SELECT pos AS src, (r % $m) * $dsub + (r // $m) + 1 AS dest
       |         FROM prk),
       |e AS (SELECT e0.vec_id, list(e0.v[p.src] ORDER BY p.dest) AS v
       |      FROM e0, pmap p GROUP BY e0.vec_id)""".stripMargin
  }

  /** The OPQ-permuted flat-PQ pipeline ([[Ann.opqTopK]]) in SQL:
    * [[opqEDef]]'s permuted `e` feeding the verbatim [[duckPq]] chain. */
  private def duckOpq(m: Int, ksub: Int, k: Int, oversample: Int,
      qPred: String): String =
    s"""WITH ${pqCtes(m, ksub, eDef = opqEDef(m))},
       |qq AS (SELECT vec_id AS query_id, j, xv AS qsub FROM x WHERE $qPred),
       |contrib AS (SELECT qq.query_id, en.vec_id AS neighbor_id, qq.j,
       |              list_dot_product(qq.qsub, c.cv) AS d
       |            FROM qq
       |            JOIN enc en ON en.j = qq.j AND en.vec_id <> qq.query_id
       |            JOIN cb1 c ON c.j = en.j AND c.cid = en.cid),
       |${pqTail(m, k, oversample)}""".stripMargin

  /** q106's recall-report pattern — the exact top-5 CTE, each tier
    * embedded as a full subquery, hits counted on (query, neighbor).
    * Shared by the q227 (code width) and q230 (nProbe) reports. */
  private def duckRecallReport(tiers: Seq[(String, String)]): String = {
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
       |    list_dot_product(qq.v, cc.v) /
       |      (sqrt(list_dot_product(qq.v, qq.v)) *
       |       sqrt(list_dot_product(cc.v, cc.v))) AS sim
       |  FROM eb cc, (SELECT * FROM eb WHERE vec_id < 50) qq
       |  WHERE cc.vec_id <> qq.vec_id),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                ORDER BY sim DESC, neighbor_id ASC) AS rn
       |    FROM exs)
       |  WHERE rn <= 5)
       |${tiers.map { case (n, s) => tier(n, s) }.mkString("\nUNION ALL\n")}""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q226_pq_topk" -> duckPq(m = 4, ksub = 16, k = 5, oversample = 20,
      qPred = "vec_id < 10"),

    "q227_pq_recall" -> duckRecallReport(Seq(
      "pq_m4" -> duckPq(4, 16, 5, 20, "vec_id < 50"),
      "pq_m8" -> duckPq(8, 16, 5, 20, "vec_id < 50"))),

    "q228_ivfpq_topk" -> duckIvfPq(m = 4, ksub = 16, nCentroids = 16,
      nProbe = 4, k = 5, oversample = 20, qPred = "vec_id < 10"),

    "q230_ivfpq_recall" -> duckRecallReport(Seq(
      "ivfpq_p2" -> duckIvfPq(4, 16, 16, 2, 5, 20, "vec_id < 50"),
      "ivfpq_p4" -> duckIvfPq(4, 16, 16, 4, 5, 20, "vec_id < 50"),
      "ivfpq_p8" -> duckIvfPq(4, 16, 16, 8, 5, 20, "vec_id < 50"))),

    // q229: write-then-probe ≡ the in-memory tier, so the oracle is the
    // same from-raw rebuild with the fresh batch's predicate.
    "q229_pq_index" -> duckIvfPq(m = 4, ksub = 16, nCentroids = 16,
      nProbe = 4, k = 5, oversample = 20, qPred = "vec_id % 20 = 3"),

    "q231_ivfpq_residual" -> duckIvfPqResidual(m = 4, ksub = 16,
      nCentroids = 16, nProbe = 4, k = 5, oversample = 20,
      qPred = "vec_id < 10"),

    "q232_residual_recall" -> duckRecallReport(Seq(
      "ivfpq_global" -> duckIvfPq(4, 16, 16, 4, 5, 20, "vec_id < 50"),
      "ivfpq_residual" -> duckIvfPqResidual(4, 16, 16, 4, 5, 20,
        "vec_id < 50"))),

    // q233: append ≡ retrain-free probe over the union — train on the
    // seed corpus only, encode everything.
    "q233_pq_append" -> duckIvfPq(m = 4, ksub = 16, nCentroids = 16,
      nProbe = 4, k = 5, oversample = 20, qPred = "vec_id % 20 = 7",
      trainPred = "vec_id % 5 <> 4"),

    "q234_opq_topk" -> duckOpq(m = 4, ksub = 16, k = 5, oversample = 20,
      qPred = "vec_id < 10"),

    "q235_opq_recall" -> duckRecallReport(Seq(
      "pq_m4" -> duckPq(4, 16, 5, 20, "vec_id < 50"),
      "opq_m4" -> duckOpq(4, 16, 5, 20, "vec_id < 50"))))
}
