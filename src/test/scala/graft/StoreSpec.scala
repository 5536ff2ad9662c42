package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.dedup.Dedup
import graft.sources.Store
import graft.text.TextOps

/** The bucketed signature store: admission's exact-cross anti-join must
  * read the store's buckets in place — the batch side shuffles, the store
  * side never does. */
class StoreSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def mkDocs(n: Int, tag: String) = {
    val rows = (1 to n).map(i => (i.toLong, (1 to 30).map(j => s"$tag${i}w$j").mkString(" ")))
    rows.toDF("doc_id", "text").withColumn("ts", TextOps.tokens(col("text")))
  }

  test("store builds are pure projections: no Exchange, no Generate, no Window") {
    // signatureStore / simhashStore compute signatures in-row
    // (MinhashFeaturesExpr / SimhashExpr) — a regression that reintroduces
    // the explode + per-doc window/agg shape would re-shuffle the corpus
    // token stream on every store build and admission batch.
    val docs = mkDocs(50, "pp")
    for ((name, store) <- Seq(
        "signatureStore" -> Dedup.signatureStore(docs, "doc_id", "text", "ts"),
        "simhashStore" -> Dedup.simhashStore(docs, "doc_id", "text", "ts"))) {
      val plan = store.queryExecution.executedPlan.toString
      for (op <- Seq("Exchange", "Generate", "Window"))
        assert(!plan.contains(op), s"$name plan must not contain $op:\n$plan")
    }
  }

  test("Store.write: exact-cross anti-join has no store-side exchange, batch side only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    Store.write(
      Dedup.signatureStore(mkDocs(50, "st"), "doc_id", "text", "ts"), Dedup.exactStore(),
      // any bucket count is read in place: EnsureRequirements keeps the
      // un-shuffled bucketed side and shuffles the batch side to match it
      "admit_store_spec", s"$dir/store", buckets = 32)
    val store = Store.read(spark, "admit_store_spec")
    assert(store.count() == 50)

    val batch = Dedup.signatureStore(mkDocs(20, "ba"), "doc_id", "text", "ts")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // pin SMJ so the bucket co-location is what the plan must exploit
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = batch.join(store, Seq("xkey"), "left_anti")
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"store scan must report its bucket spec:\n$plan")
      // count only join-key exchanges: the batch side's signature build
      // legitimately shuffles on doc_id for its window
      val exchanges = "Exchange hashpartitioning\\(xkey".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"exactly ONE xkey exchange (the batch side) expected, got $exchanges:\n$plan")
      // and the co-located join returns the right answer
      assert(probe.count() == 20)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("writeIvfIndex: probe answers equal ivfTopK; lists side reads buckets in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    // deterministic synthetic embeddings (no RNG: pmod lattice); floats,
    // the embeddings table's element type sampleCentroids expects
    val emb = spark.range(200).select(col("id").as("vec_id"),
      array((0 until 8).map(d =>
        (pmod(col("id") * (d + 3), lit(11)) - lit(5)).cast("float")): _*).as("vec"))
    Ann.writeIvfIndex(emb, "ivf_index_spec", s"$dir/index", "vec_id", "vec",
      seed = 42, nCentroids = 8, buckets = 32)
    val (index, cents) = Ann.readIvfIndex(spark, "ivf_index_spec", s"$dir/index")
    assert(cents.length == 8 && index.count() == 200)

    val queries = emb.filter(col("vec_id") % 10 === 0)
    val probe = Ann.ivfProbe(index, cents, queries, "vec_id", "vec", k = 3)
    val fromIndex = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = Ann.ivfTopK(emb, queries, "vec_id", "vec", k = 3,
        seed = 42, nCentroids = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromIndex.nonEmpty && fromIndex == direct,
      s"index answers diverge: ${fromIndex.diff(direct)} / ${direct.diff(fromIndex)}")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Ann.ivfProbe(index, cents, queries, "vec_id", "vec", k = 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"inverted-list scan must report its bucket spec:\n$plan")
      assert("Exchange hashpartitioning\\(cid".r.findAllIn(plan).length == 1,
        s"exactly ONE cid exchange (the query batch) expected:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("writePqIndex: probe-of-artifact equals ivfPqTopK; encoded lists read buckets in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    // the ivf-index lattice, dim 8 = m 4 subspaces of 2
    val emb = spark.range(200).select(col("id").as("vec_id"),
      array((0 until 8).map(d =>
        (pmod(col("id") * (d + 3), lit(11)) - lit(5)).cast("float")): _*).as("vec"))
    Ann.writePqIndex(emb, "pq_index_spec", s"$dir/index", "vec_id", "vec",
      seed = 42, nCentroids = 8, m = 4, ksub = 8, iters = 1, dim = 8,
      buckets = 32)
    val (index, cents, cbs) = Ann.readPqIndex(spark, "pq_index_spec", s"$dir/index")
    assert(cents.length == 8 && cbs.length == 4 && cbs.forall(_.length == 8)
      && index.count() == 200)
    // the artifact stores codes, not vectors
    assert(!index.columns.contains("vec"),
      s"PQ index must not persist float vectors, got ${index.columns.mkString(",")}")

    val queries = emb.filter(col("vec_id") % 10 === 0)
    val probe = Ann.pqProbe(index, cents, cbs, queries, "vec_id", "vec",
      k = 3, nProbe = 3, oversample = 5, rerankCorpus = Some(emb))
    val fromIndex = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = Ann.ivfPqTopK(emb, queries, "vec_id", "vec", k = 3,
        nCentroids = 8, nProbe = 3, m = 4, ksub = 8, oversample = 5,
        seed = 42, iters = 1, dim = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromIndex.nonEmpty && fromIndex == direct,
      s"index answers diverge: ${fromIndex.diff(direct)} / ${direct.diff(fromIndex)}")
    // no-rerank mode ranks by ADC alone and still returns k per query
    val adcOnly = Ann.pqProbe(index, cents, cbs, queries, "vec_id", "vec",
      k = 3, nProbe = 3)
    assert(adcOnly.groupBy("query_id").count().collect().forall(_.getLong(1) == 3))

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Ann.pqProbe(index, cents, cbs, queries, "vec_id", "vec",
          k = 3, nProbe = 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"encoded-list scan must report its bucket spec:\n$plan")
      assert("Exchange hashpartitioning\\(__cid".r.findAllIn(plan).length == 1,
        s"exactly ONE __cid exchange (the probe frame) expected:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("PQ contract guards fail loudly with the fix in the message") {
    val emb = spark.range(20).select(col("id").as("vec_id"),
      array((0 until 8).map(d =>
        (pmod(col("id") * (d + 3), lit(11)) - lit(5)).cast("float")): _*).as("vec"))
    // m must divide dim
    val e1 = intercept[IllegalArgumentException] {
      Ann.pqCodebooks(emb, "vec_id", "vec", m = 3, ksub = 4, dim = 8)
    }
    assert(e1.getMessage.contains("must divide"))
    // a code must fit one byte
    val e2 = intercept[IllegalArgumentException] {
      Ann.pqCodebooks(emb, "vec_id", "vec", m = 4, ksub = 257, dim = 8)
    }
    assert(e2.getMessage.contains("[1, 256]"))
    // nProbe bounded by nCentroids
    val e3 = intercept[IllegalArgumentException] {
      Ann.ivfPqTopK(emb, emb.limit(2), "vec_id", "vec", k = 1,
        nCentroids = 4, nProbe = 5, m = 4, ksub = 4, dim = 8)
    }
    assert(e3.getMessage.contains("nProbe"))
    // empty corpus named at train time, not as a downstream NPE
    val e4 = intercept[IllegalArgumentException] {
      Ann.pqCodebooks(emb.filter(col("vec_id") < 0), "vec_id", "vec",
        m = 4, ksub = 4, dim = 8)
    }
    assert(e4.getMessage.contains("empty corpus"))
    // dim mismatch fails loudly (ADVICE r13) instead of silently
    // encoding a prefix of each vector
    val e5 = intercept[IllegalArgumentException] {
      Ann.pqCodebooks(emb, "vec_id", "vec", m = 4, ksub = 4, dim = 16)
    }
    assert(e5.getMessage.contains("components"))
    // quantize keep-name collisions with the generated schema reject
    // with the clash named (ADVICE r13)
    val e6 = intercept[IllegalArgumentException] {
      Ann.quantize(emb, "vec_id", "vec", keep = Seq("qvec"))
    }
    assert(e6.getMessage.contains("collide"))
  }

  test("writePqIndexPartitioned + appendPqBatch: append equals frozen-encode-union; replay idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_part").toString
    val emb = spark.range(250).select(col("id").as("vec_id"),
      array((0 until 8).map(d =>
        (pmod(col("id") * (d + 3), lit(11)) - lit(5)).cast("float")): _*).as("vec"))
    val seedCorpus = emb.filter(col("vec_id") % 5 =!= 4)
    val batch = emb.filter(col("vec_id") % 5 === 4)
    Ann.writePqIndexPartitioned(seedCorpus, "pq_part_spec", s"$dir/index",
      "vec_id", "vec", seed = 42, nCentroids = 8, m = 4, ksub = 8,
      iters = 1, dim = 8, buckets = 32)
    val (index0, cents, cbs) = Ann.readPqIndex(spark, "pq_part_spec", s"$dir/index")
    assert(index0.count() == 200)
    // batchId -1 is the seed partition — reserved
    intercept[IllegalArgumentException] {
      Ann.appendPqBatch(batch, "pq_part_spec", cents, cbs, -1L, "vec_id", "vec")
    }
    Ann.appendPqBatch(batch, "pq_part_spec", cents, cbs, 0L, "vec_id", "vec")
    val grown = spark.table("pq_part_spec")
    assert(grown.count() == 250)
    // probe-of-grown-artifact ≡ one frozen encode of the union (the
    // retrain-free contract: quantizers are the SEED corpus's)
    val queries = emb.filter(col("vec_id") % 10 === 3)
    def answers(index: org.apache.spark.sql.DataFrame) =
      Ann.pqProbe(index, cents, cbs, queries, "vec_id", "vec", k = 3,
          nProbe = 3, oversample = 5, rerankCorpus = Some(emb))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromArtifact = answers(spark.table("pq_part_spec"))
    val direct = answers(Ann.pqEncodeFrozen(emb, "vec_id", "vec", cents, cbs))
    assert(fromArtifact.nonEmpty && fromArtifact == direct,
      s"append diverges from frozen-encode-union: " +
        s"${fromArtifact.diff(direct)} / ${direct.diff(fromArtifact)}")
    // a replayed batch OVERWRITES its partition (at-least-once safety)
    Ann.appendPqBatch(batch, "pq_part_spec", cents, cbs, 0L, "vec_id", "vec")
    assert(spark.table("pq_part_spec").count() == 250)
  }

  test("writeIvfIndex(growing = true) + appendIvfBatch: frozen quantizer, idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_p").toString
    val emb = spark.range(200).select(col("id").as("vec_id"),
      array((0 until 8).map(d =>
        (pmod(col("id") * (d + 3), lit(11)) - lit(5)).cast("float")): _*).as("vec"))
    val seedHalf = emb.filter(col("vec_id") < 100)
    val batch = emb.filter(col("vec_id") >= 100)
    Ann.writeIvfIndex(seedHalf, "ivf_index_part_spec", s"$dir/index",
      "vec_id", "vec", seed = 42, nCentroids = 8, buckets = 32, growing = true)
    val (_, cents) = Ann.readIvfIndex(spark, "ivf_index_part_spec", s"$dir/index")
    assert(spark.table("ivf_index_part_spec").count() == 100)

    Ann.appendIvfBatch(batch, "ivf_index_part_spec", cents, batchId = 0,
      "vec_id", "vec")
    val index = spark.table("ivf_index_part_spec")
    assert(index.count() == 200, "append lands the batch")
    // a query's exact clone lives in the APPENDED half: vec(150) == the
    // lattice value of id 150; probing with vec 150's own vector from a
    // fresh id must surface 150 at rank 1 (cosine 1 with itself-clone)
    val q = batch.filter(col("vec_id") === 150)
      .select((col("vec_id") + 10000).as("vec_id"), col("vec"))
    val top = Ann.ivfProbe(index, cents, q, "vec_id", "vec", k = 1, nProbe = 8)
      .collect()
    // lattice vectors repeat mod 11 — accept any exact-clone id, but the
    // appended half must be reachable
    assert(top.nonEmpty && top(0).getLong(1) == 1L)
    val hit = top(0).getLong(2)
    val sameVec = emb.filter(col("vec_id") === hit).select("vec").collect()(0)
      .getSeq[Float](0)
    val qv = batch.filter(col("vec_id") === 150).select("vec").collect()(0)
      .getSeq[Float](0)
    assert(sameVec == qv, s"rank-1 neighbor $hit must be an exact clone")
    // replaying the SAME batch overwrites its partition — no duplicates
    Ann.appendIvfBatch(batch, "ivf_index_part_spec", cents, batchId = 0,
      "vec_id", "vec")
    assert(spark.table("ivf_index_part_spec").count() == 200,
      "replayed batch must overwrite, not append")
    // the grown index still reads buckets in place
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Ann.ivfProbe(index, cents, q, "vec_id", "vec", k = 1)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"grown index scan must keep its bucket spec:\n$plan")
      assert("Exchange hashpartitioning\\(cid".r.findAllIn(plan).length == 1,
        s"exactly ONE cid exchange (the query batch) expected:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val ex = intercept[IllegalArgumentException] {
      Ann.appendIvfBatch(batch, "ivf_index_part_spec", cents, batchId = -1,
        "vec_id", "vec")
    }
    assert(ex.getMessage.contains("reserved"))
  }

  test("writeIvfIndex refineIters: refined quantizer lands on cluster means, plan unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_r").toString
    val emb = spark.range(200).select(col("id").as("vec_id"),
      array((0 until 8).map(d =>
        (pmod(col("id") * (d + 3), lit(11)) - lit(5)).cast("float")): _*).as("vec"))
    Ann.writeIvfIndex(emb, "ivf_index_refined_spec", s"$dir/index", "vec_id",
      "vec", seed = 42, nCentroids = 8, buckets = 32, refineIters = 1)
    val (index, cents) = Ann.readIvfIndex(spark, "ivf_index_refined_spec",
      s"$dir/index")
    // the persisted quantizer IS the refined one: recompute it from raw
    val sampled = Ann.sampleCentroids(emb, "vec_id", "vec", 42, 8)
    val refined = Ann.kmeansRefine(Ann.quantize(emb, "vec_id", "vec"),
      "vec_id", "qvec", sampled, iters = 1)
    assert(cents.map(_.toSeq).toSeq == refined.map(_.toSeq).toSeq)
    assert(cents.map(_.toSeq).toSeq != sampled.map(_.toSeq).toSeq,
      "refinement should move at least one centroid on this lattice")
    // probe plan shape is identical to the unrefined index's: bucketed
    // in-place lists, one cid exchange for the batch
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Ann.ivfProbe(index, cents, queries, "vec_id", "vec", k = 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"bucket spec lost:\n$plan")
      assert("Exchange hashpartitioning\\(cid".r.findAllIn(plan).length == 1,
        s"exactly ONE cid exchange (the query batch) expected:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("Store.read keeps the bucket spec a bare path read would lose") {
    val store = Store.read(spark, "admit_store_spec")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val batch = Dedup.signatureStore(mkDocs(20, "ba"), "doc_id", "text", "ts")
      val pathRead = spark.read.parquet(
        spark.sql("DESCRIBE TABLE EXTENDED admit_store_spec")
          .filter(col("col_name") === "Location").select("data_type")
          .as[String].head())
      val viaPath = batch.join(pathRead, Seq("xkey"), "left_anti")
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning\\(xkey".r.findAllIn(viaPath).length == 2,
        s"a bare path read must reintroduce the store-side exchange:\n$viaPath")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
