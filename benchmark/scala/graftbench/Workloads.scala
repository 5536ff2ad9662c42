package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.schemes.ShuffledScheme
import graft.sources.{Indexed, Tables}
import graft.stream.DataStream
import graft.text.Curation
import graft.transform.{Cast, ScaleAndShift}

import Main.{plan, timed, writeNoop}
import Trace.span

/** Reads the generator's manifest (planted ids and row counts). */
object Manifest {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def read(dir: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(dir, "manifest.json"))

  def ids(node: com.fasterxml.jackson.databind.JsonNode): Set[Long] = {
    val b = Set.newBuilder[Long]
    node.elements().forEachRemaining(n => b += n.asLong())
    b.result()
  }
}

/** fuel's core use: a training loop pulls every minibatch of successive
  * epochs of a seeded shuffled scheme, after a ScaleAndShift ∘ Cast chain.
  * One operation is one whole epoch; epoch `e` is reshuffled with seed + e. */
final class TrainStream(data: String, seed: Long) extends Workload {
  // the epoch time keeps falling over the first few epochs of a fresh JVM
  override val warmupOps = 5
  override val minOps = 6
  private val manifest = Manifest.read(data)
  private val n = manifest.get("tables").get("examples").asLong()
  private val batchSize = manifest.get("batch_size").asInt()
  private var stream: DataStream = _
  private val orders = mutable.Map[Int, Array[Long]]()
  private val failures = mutable.ArrayBuffer[String]()

  def setup(spark: SparkSession): Unit = {
    val raw = span("sources", "Tables.load") { Tables.load(spark, data, "examples") }
    // the chain only extends the plan; its work runs inside the stream's
    // fetch jobs, so it gets no span of its own
    val chain = ScaleAndShift(0.5, 1.0, Seq("x1", "x2")) andThen Cast("floatX", Seq("x1", "x2"))
    val prepared = chain(raw)
    val indexed = span("sources", "Indexed.withIdx") { Indexed.withIdx(prepared, Seq(col("key"))) }
    stream = span("stream", "DataStream.apply") {
      DataStream(indexed, ShuffledScheme(batchSize, seed), Seq(col("key")))
    }
  }

  /** Pull epoch `e` to the end; returns (keys in visit order, batch sizes,
    * ms to first batch, ms for the epoch, ms waiting in `next` after the
    * first batch, whether the floatX cast held). */
  private def epoch(e: Int): (Array[Long], Seq[Int], Double, Double, Double, Boolean) = {
    val keys = new Array[Long](n.toInt)
    val sizes = mutable.ArrayBuffer[Int]()
    var filled = 0
    var castOk = true
    var waitNs = 0L
    def take(b: Seq[Row]): Unit = {
      sizes += b.size
      b.foreach { r =>
        if (filled < keys.length) keys(filled) = r.getLong(0)
        filled += 1
        castOk &&= r.get(1).isInstanceOf[Float]
      }
    }
    val t0 = System.nanoTime()
    val it = span("stream", "epochIterator") { stream.epochIterator(e) }
    take(span("stream", "next") { it.next() })
    val tFirst = System.nanoTime()
    while (it.hasNext) {
      val w0 = System.nanoTime()
      val b = span("stream", "next") { it.next() }
      waitNs += System.nanoTime() - w0
      take(b)
    }
    val tEnd = System.nanoTime()
    if (filled != n) castOk = false
    (keys, sizes.toSeq, (tFirst - t0) / 1e6, (tEnd - t0) / 1e6, waitNs / 1e6, castOk)
  }

  def op(spark: SparkSession, i: Int): Op = {
    val (keys, sizes, firstMs, epochMs, waitMs, castOk) = epoch(i)
    if (i <= 1) orders(i) = keys
    val sorted = keys.sorted
    val permutation = sorted.indices.forall(j => sorted(j) == j)
    val batchesOk = sizes.init.forall(_ == batchSize) &&
      sizes.last == (if (n % batchSize == 0) batchSize else (n % batchSize).toInt)
    val ok = permutation && batchesOk && castOk
    if (!ok) failures += s"epoch $i: permutation=$permutation batches=$batchesOk cast=$castOk"
    Op(i, "epoch", Trace.enabled, ok, Map("epoch_ms" -> epochMs,
      "first_batch_ms" -> firstMs, "fetch_wait_ms" -> waitMs,
      "examples" -> keys.length.toDouble, "batches" -> sizes.size.toDouble))
  }

  def checks(spark: SparkSession): Seq[Check] = {
    val again = epoch(1)._1
    Seq(
      Check("epochs_are_permutations_with_full_batches", failures.isEmpty, failures.take(3).mkString("; ")),
      Check("epoch1_differs_from_epoch0",
        !java.util.Arrays.equals(orders(0), orders(1)), ""),
      Check("epoch1_repeats_under_same_seed",
        java.util.Arrays.equals(orders(1), again), ""))
  }

  override def repeatable: Map[String, Any] = Map(
    "epoch1_order_hash" -> java.util.Arrays.hashCode(orders(1)))
}

/** The LLM curation batch job: Curation.curatePublished over a corpus with
  * planted duplicates, near-duplicates, PII, boilerplate lines and
  * benchmark-contaminated docs. One operation is one whole curation pass. */
final class CurateCorpus(data: String) extends Workload {
  // passes keep getting faster over the first three or so of a fresh JVM;
  // a pass takes several seconds, so a run always makes exactly minOps
  override val warmupOps = 2
  override val minOps = 3
  private val manifest = Manifest.read(data)
  private val nDocs = manifest.get("tables").get("documents").asLong()
  private val mustDrop: Map[String, Set[Long]] =
    Seq("exact_dup", "near_dup", "contaminated")
      .map(k => k -> Manifest.ids(manifest.get("planted").get(k))).toMap
  private val planted: Set[Long] = {
    val node = manifest.get("planted")
    val b = Set.newBuilder[Long]
    node.fieldNames().forEachRemaining(k => b ++= Manifest.ids(node.get(k)))
    b.result()
  }
  private var docs: DataFrame = _
  private var eval: DataFrame = _
  private val failures = mutable.ArrayBuffer[String]()
  private var survivors = Set.empty[Long]

  def setup(spark: SparkSession): Unit = {
    docs = span("sources", "Tables.load") { Tables.load(spark, data, "documents") }
    eval = span("sources", "Tables.load") { Tables.load(spark, data, "eval") }
  }

  def op(spark: SparkSession, i: Int): Op = {
    val (out, constructMs) = timed {
      span("text", "Curation.curatePublished") { Curation.curatePublished(docs, eval) }
    }
    val (_, planMs) = timed(plan(out))
    val (_, execMs) = timed(writeNoop(out))
    val rows = out.select("doc_id", "n_tokens", "tok_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val ids = rows.map(_._1).toSet
    val leaked = mustDrop.collect { case (k, s) if (s & ids).nonEmpty => s"$k:${(s & ids).size}" }
    var offsetOk = true
    var acc = 0L
    rows.foreach { case (_, nTok, off) => offsetOk &&= off == acc; acc += nTok }
    val kept = (ids -- planted).size
    val pool = nDocs - planted.size
    val keptOk = kept >= 0.9 * pool
    val ok = leaked.isEmpty && offsetOk && keptOk
    if (!ok) failures += s"pass $i: leaked=${leaked.mkString(",")} offsets=$offsetOk kept=$kept/$pool"
    if (survivors.isEmpty) survivors = ids
    else if (survivors != ids) failures += s"pass $i: survivor set changed between passes"
    Op(i, "pass", Trace.enabled, ok && survivors == ids, Map("construct_ms" -> constructMs,
      "plan_ms" -> planMs, "exec_ms" -> execMs,
      "total_ms" -> (constructMs + planMs + execMs), "docs" -> nDocs.toDouble,
      "survivors" -> ids.size.toDouble))
  }

  def checks(spark: SparkSession): Seq[Check] = Seq(
    Check("planted_docs_dropped_offsets_are_running_sums", failures.isEmpty,
      failures.take(3).mkString("; ")))

  override def repeatable: Map[String, Any] = Map(
    "survivors" -> survivors.size, "survivor_hash" -> survivors.toSeq.sorted.hashCode)
}

/** Vector search over a growing IVF-PQ index: probe batches with exact
  * rerank, and every [[AppendEvery]]th operation appends a batch to the
  * same index, so writes sit beside reads on the ann layer. */
final class AnnIndex(data: String, work: String, seed: Long) extends Workload {
  override val minOps = 4
  // odd, so that a traced run, which traces every other operation, traces
  // both appends and probes
  val AppendEvery = 3
  val K = 10
  private val manifest = Manifest.read(data)
  private val t = manifest.get("tables")
  private val seedRows = t.get("corpus").asLong()
  private val appendRows = t.get("append_rows").asLong()
  private val appendBatches = t.get("append_batches").asInt()
  private val queryBatches = t.get("query_batches").asInt()
  private val queryRows = t.get("query_rows").asLong()
  private val table = "graftbench_pq"
  private val path = new java.io.File(work, "pq_index").getAbsolutePath
  private var index: DataFrame = _
  private var cents: Array[Array[Double]] = _
  private var cbs: Array[Array[Array[Double]]] = _
  private var rerank: DataFrame = _
  private val appended = mutable.LinkedHashSet[Int]()
  private var appends = 0
  private var probes = 0
  private val failures = mutable.ArrayBuffer[String]()
  private var recall = Double.NaN
  private var indexFiles = 0

  private def load(spark: SparkSession, name: String): DataFrame =
    span("sources", "Tables.load") { Tables.load(spark, data, name) }

  def setup(spark: SparkSession): Unit = {
    val corpus = load(spark, "corpus")
    span("ann", "Ann.writePqIndexPartitioned") {
      Ann.writePqIndexPartitioned(corpus, table, path, "vec_id", "embedding", seed = seed)
    }
    val (idx, c, b) = span("ann", "Ann.readPqIndex") { Ann.readPqIndex(spark, table, path) }
    index = idx; cents = c; cbs = b
    rerank = corpus
    appended.clear()
    appends = 0
    probes = 0
  }

  private def inIndex(id: Long): Boolean =
    id < seedRows || appended.contains(((id - seedRows) / appendRows).toInt)

  private def probe(spark: SparkSession, q: DataFrame): (Array[Row], Double, Double) = {
    val (df, constructMs) = timed {
      span("ann", "Ann.pqProbe") {
        Ann.pqProbe(index, cents, cbs, q, "vec_id", "embedding", K, rerankCorpus = Some(rerank))
      }
    }
    val (rows, restMs) = timed {
      plan(df)
      span("exec", "collect") { df.collect() }
    }
    (rows, constructMs, restMs)
  }

  def op(spark: SparkSession, i: Int): Op =
    if (i % AppendEvery == AppendEvery - 1) {
      val b = appends % appendBatches
      appends += 1
      val batch = load(spark, f"append_$b%03d")
      val (_, ms) = timed {
        span("ann", "Ann.appendPqBatch") {
          Ann.appendPqBatch(batch, table, cents, cbs, b, "vec_id", "embedding")
        }
      }
      if (appended.add(b)) rerank = rerank.unionByName(batch)
      index = spark.table(table)
      Op(i, "append", Trace.enabled, ok = true, Map("append_ms" -> ms,
        "rows" -> appendRows.toDouble))
    } else {
      val q = load(spark, f"queries_${probes % queryBatches}%03d")
      probes += 1
      val (rows, constructMs, restMs) = probe(spark, q)
      val byQuery = rows.groupBy(_.getLong(0))
      val nq = queryRows
      val bad = byQuery.count { case (_, rs) =>
        val ids = rs.map(_.getLong(2))
        ids.length != K || ids.distinct.length != K || !ids.forall(inIndex)
      } + (nq - byQuery.size).toInt
      if (bad > 0) failures += s"probe $i: $bad of $nq queries without $K distinct indexed ids"
      Op(i, "probe", Trace.enabled, bad == 0, Map("probe_ms" -> (constructMs + restMs),
        "construct_ms" -> constructMs, "queries" -> nq.toDouble))
    }

  /** recall@10 of the seed index against exact search, on the first query
    * batch; a function of the seed alone. */
  override def afterSetup(spark: SparkSession): Unit = {
    val q = Tables.load(spark, data, "queries_000")
    val (rows, _, _) = probe(spark, q)
    val exact = Ann.bruteForceTopK(rerank, q, "vec_id", "embedding", K).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    recall = (got & exact).size.toDouble / exact.size
  }

  def checks(spark: SparkSession): Seq[Check] = {
    indexFiles = countFiles(new java.io.File(path))
    Seq(Check("probes_return_k_distinct_indexed_ids", failures.isEmpty,
      failures.take(3).mkString("; ")))
  }

  private def countFiles(f: java.io.File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  override def repeatable: Map[String, Any] = Map("recall_at_10" -> recall)

  override def extra: Map[String, Any] = Map("index_files" -> indexFiles, "appends" -> appends)
}

/** A fixed list of registry queries, each built, planned and written to
  * noop. One operation is one pass. The list is short, to fit the time of
  * a run: a join, a rollup, a window, an as-of join, a z-order skipping
  * card and an IVF probe. Each build call is spanned under the layer whose
  * public function the registry entry wraps: `operators` for the as-of
  * join (`AsOf.asofBackward`) and the skipping card (`Layout.skippingCard`),
  * `ann` for the probe (`Ann.ivfTopK`) and `queries` for the rest, whose
  * bodies are the registry's own. */
final class QueryMix(data: String) extends Workload {
  // the passes of a fresh JVM keep getting faster, the IVF probe's most
  override val warmupOps = 2
  override val minOps = 3
  val Queries = Seq("q3_join_broadcast" -> "queries", "q10_rollup" -> "queries",
    "q6_window_rank" -> "queries", "q44_asof_join" -> "operators",
    "q236_zorder_card" -> "operators", "q39_ann_ivf" -> "ann")
  private val first = mutable.Map[String, (Long, Long)]()
  private val failures = mutable.ArrayBuffer[String]()

  def setup(spark: SparkSession): Unit =
    Seq("customer", "nation", "region", "lineitem", "orders", "events", "embeddings")
      .foreach(n => span("sources", "Tables.load") { Tables.load(spark, data, n) })

  /** Row count and an order-insensitive content hash of each of `dfs`,
    * computed in one action. */
  private def fingerprints(dfs: Seq[DataFrame]): Seq[(Long, Long)] = {
    val parts = dfs.zipWithIndex.map { case (df, i) =>
      val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
      df.agg(lit(i).as("i"), count(lit(1)).as("n"),
        coalesce(sum(h.bitwiseAND(lit(0xFFFFFFL))), lit(0L)).as("s"),
        coalesce(bit_xor(h), lit(0L)).as("x"))
    }
    val byIndex = parts.reduce(_ unionByName _).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2) * 31 + r.getLong(3)))).toMap
    dfs.indices.map(byIndex)
  }

  def op(spark: SparkSession, i: Int): Op = {
    val fields = mutable.LinkedHashMap[String, Double]()
    var construct, planMs, exec = 0.0
    val built = Queries.map { case (q, layer) =>
      val (df, c) = timed {
        span(layer, q) { graft.SparkEntry.queries(q)(spark, data) }
      }
      val (_, p) = timed(plan(df))
      val (_, e) = timed(writeNoop(df))
      construct += c; planMs += p; exec += e
      fields(s"$q.ms") = c + p + e
      spark.catalog.clearCache()
      df
    }
    var ok = true
    // warm-up passes are not checked: their fingerprints would cost as much
    // as their execution, and the timed passes are checked against each other
    if (i >= warmupOps) Queries.map(_._1).zip(fingerprints(built)).foreach { case (q, fp) =>
      first.get(q) match {
        case None => first(q) = fp
        case Some(prev) if prev != fp =>
          ok = false
          failures += s"pass $i: $q fingerprint $fp differs from $prev"
        case _ =>
      }
    }
    Op(i, "pass", Trace.enabled, ok, fields.toMap ++ Map("construct_ms" -> construct,
      "plan_ms" -> planMs, "exec_ms" -> exec, "total_ms" -> (construct + planMs + exec)))
  }

  def checks(spark: SparkSession): Seq[Check] = Seq(
    Check("fingerprints_repeat_across_passes", failures.isEmpty, failures.take(3).mkString("; ")))

  override def repeatable: Map[String, Any] = first.toSeq.sortBy(_._1).flatMap {
    case (q, (n, h)) => Seq(s"$q.rows" -> n, s"$q.hash" -> h)
  }.toMap
}
