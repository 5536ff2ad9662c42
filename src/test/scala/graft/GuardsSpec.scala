package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.dedup.Dedup
import graft.operators.Snapshot
import graft.sources.Tables
import graft.text.{Perplexity, TextOps}

/** The broadcast row bounds ([[graft.functions.Guards.atMost]]) live in
  * the plan: building a guarded operator's frame starts no Spark job,
  * under its bound or over it, and an oversized side fails the first
  * action with the bound's message. Left out: `bloomBits` and `mmrSelect`,
  * which collect or loop by design, and `pqProbe(broadcastProbe = true)`,
  * which counts its batch to decide the hint. */
class GuardsSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  /** `body`'s result and the Spark jobs it started. The jobs carry a local
    * property set around `body` (Spark SQL hands the caller's local
    * properties to the threads it runs jobs from), so a stray job still
    * starting from an earlier failed action is not counted. A marker job
    * after `body` flushes the count: a listener sees job starts in order. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = "graft.spec.guards"
    val token = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)).orNull match {
          case `token` => jobs.incrementAndGet()
          case "flush" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, token)
      val result = try body finally sc.setLocalProperty(tag, "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tag, null)
      assert(flushed.await(60, TimeUnit.SECONDS))
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private lazy val emb = Tables.load(spark, sf, "embeddings")
    .select("vec_id", "embedding", "label")
  private lazy val embQueries = emb.filter(col("vec_id") < 5)
  private lazy val qz = Ann.quantize(emb, "vec_id", "embedding")
  private lazy val docs = Tables.load(spark, sf, "documents")
    .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
  private lazy val bench = docs.filter(col("doc_id") % 41 === 0)
  private lazy val model = Perplexity.bigramCounts(bench)
  private lazy val pqIndex = Ann.ivfPqEncode(emb, "vec_id", "embedding")
  private lazy val residualIndex = Ann.ivfPqEncodeResidual(emb, "vec_id", "embedding")

  /** One guarded operator: its frame with the bound held (`over = false`)
    * or broken (`over = true`), and a substring of the bound's message. */
  private case class Guarded(name: String, message: String,
      build: Boolean => DataFrame)

  /** Ann's query-side bound: the whole corpus as queries against a bound of 2. */
  private def annQueries(over: Boolean): (DataFrame, Int) =
    if (over) (emb, 2) else (embQueries, 1000000)

  /** Every input the cases read, built and trained outside the counted
    * region (a table load or a quantizer training may run jobs). */
  private def inputs(): Unit = {
    Seq(emb, embQueries, qz, docs, bench, model)
    pqIndex
    residualIndex
  }

  private val cases: Seq[Guarded] = Seq(
    Guarded("bruteForceTopK", "bruteForceTopK: query set exceeds", over => {
      val (q, max) = annQueries(over)
      Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 3, maxQueryRows = max)
    }),
    Guarded("marginMine", "marginMine: query set exceeds", over => {
      val (q, max) = annQueries(over)
      Ann.marginMine(q, emb, "vec_id", "embedding", k = 2, maxQueryRows = max)
    }),
    Guarded("jlTopK", "jlTopK: query set exceeds", over => {
      val (q, max) = annQueries(over)
      Ann.jlTopK(emb, q, "vec_id", "embedding", 3, maxQueryRows = max)
    }),
    Guarded("lshTopK", "lshTopK: query set exceeds", over => {
      val (q, max) = annQueries(over)
      Ann.lshTopK(emb, q, "vec_id", "embedding", 3, maxQueryRows = max)
    }),
    Guarded("pqProbe", "pqProbe: query set exceeds", over => {
      val (q, max) = annQueries(over)
      val (index, cents, cbs) = pqIndex
      Ann.pqProbe(index, cents, cbs, q, "vec_id", "embedding", 3, maxQueryRows = max)
    }),
    Guarded("pqProbeResidual", "pqProbeResidual: query set exceeds", over => {
      val (q, max) = annQueries(over)
      val (index, cents, qCents, cbs) = residualIndex
      Ann.pqProbeResidual(index, cents, qCents, cbs, q, "vec_id", "embedding", 3,
        maxQueryRows = max)
    }),
    Guarded("contaminatedSemantic", "contaminatedSemantic: benchmark exceeds", over =>
      Ann.contaminatedSemantic(qz, "vec_id", "qvec",
        if (over) qz else qz.filter(col("vec_id") < 5), "vec_id", "qvec",
        maxBenchRows = if (over) 2 else 100000)),
    Guarded("knnPropagate", "knnPropagate: labeled set exceeds", over => {
      val (seeds, max) = annQueries(over)
      Ann.knnPropagate(emb, "vec_id", "embedding", seeds, "vec_id", "embedding",
        "label", k = 2, maxLabeledRows = max)
    }),
    Guarded("contaminated", "contaminated: benchmark exceeds", over =>
      Dedup.contaminated(docs, "doc_id", "ts", if (over) docs else bench,
        "doc_id", "ts", maxBenchRows = if (over) 2 else 1000000)),
    Guarded("benchmarkOverlap", "benchmarkOverlap: benchmark exceeds", over =>
      Dedup.benchmarkOverlap(docs, "doc_id", "ts", if (over) docs else bench,
        "doc_id", "ts", maxBenchRows = if (over) 2 else 1000000)),
    Guarded("dedupLines", "dedupLines: over-threshold line set exceeds", over => {
      // every line repeats in every doc: the whole line set is "boilerplate"
      val text = Seq((1L, "a\nb\nc"), (2L, "a\nb\nc"), (3L, "a\nb\nc")).toDF("doc_id", "text")
      TextOps.dedupLines(text, "doc_id", "text", maxBoilerplateLines = if (over) 2 else 3)
    }),
    Guarded("maintainAggregate", "maintainAggregate: changeset exceeds", over => {
      val old = Seq((1L, "g1", 10L), (2L, "g1", 20L), (3L, "g2", 30L)).toDF("id", "g", "v")
      val oldAgg = old.groupBy("g").agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_val"))
      val ups = Seq((2L, "g1", 25L), (4L, "g3", 40L)).toDF("id", "g", "v")
      val del = Seq(Tuple1(3L)).toDF("id")
      Snapshot.maintainAggregate(oldAgg, old, ups, del, "id", "g", "v",
        maxChangeRows = if (over) 2 else 3)
    }),
    Guarded("Perplexity.score", "Perplexity.score: model exceeds", over =>
      Perplexity.score(docs, model, maxModelRows = if (over) 2L else 2000000L)),
    Guarded("Perplexity.scoreTrigram", "model exceeds 2 rows", over =>
      Perplexity.scoreTrigram(docs, Perplexity.trigramCounts(bench), model,
        maxModelRows = if (over) 2L else 2000000L))
  )

  cases.foreach { c =>
    test(s"building a guarded operator starts no Spark job: ${c.name}") {
      inputs()
      val (under, underJobs) = jobsDuring(c.build(false))
      assert(underJobs == 0, "within the bound")
      assert(under.count() >= 0)
      val (over, overJobs) = jobsDuring(c.build(true))
      assert(overJobs == 0, "over the bound")
      val failure = messageChain(intercept[Exception](over.collect()))
      assert(failure.contains(c.message), failure)
    }
  }

  test("building a guarded operator starts no Spark job: pqTopK and ivfPqTopK train only") {
    // Both train their quantizers while the frame is built (by design);
    // the query bound adds no job to that training.
    inputs()
    val trainPq = jobsDuring(Ann.pqCodebooks(emb, "vec_id", "embedding"))._2
    val trainIvfPq = jobsDuring(Ann.ivfPqEncode(emb, "vec_id", "embedding"))._2
    assert(trainPq > 0 && trainIvfPq > 0)
    for (over <- Seq(false, true)) {
      val (q, max) = annQueries(over)
      val (pq, pqJobs) =
        jobsDuring(Ann.pqTopK(emb, q, "vec_id", "embedding", 3, maxQueryRows = max))
      assert(pqJobs == trainPq, s"pqTopK, over = $over")
      val (ivfPq, ivfPqJobs) =
        jobsDuring(Ann.ivfPqTopK(emb, q, "vec_id", "embedding", 3, maxQueryRows = max))
      assert(ivfPqJobs == trainIvfPq, s"ivfPqTopK, over = $over")
      if (over) {
        Seq("pqTopK" -> pq, "ivfPqTopK" -> ivfPq).foreach { case (op, df) =>
          val failure = messageChain(intercept[Exception](df.collect()))
          assert(failure.contains(s"$op: query set exceeds"), failure)
        }
      }
    }
  }
}
