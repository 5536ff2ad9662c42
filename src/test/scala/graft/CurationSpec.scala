package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._

import graft.schemes.SequentialScheme
import graft.sources.{Catalog, SplitSource, Tables}
import graft.stream.DataStream
import graft.text.{Curation, TextOps}

/** The engine's own story closed end-to-end: curate → materialize
  * (split-partitioned parquet) → register in the Catalog → reload →
  * drive an epoch through DataStream — fuel's fill_hdf5_file-to-
  * training-loop round trip (reference: fuel/converters/base.py:50-104,
  * fuel/datasets/base.py:83-95). */
class CurationSpec extends SparkSpec {

  private def docs = Tables.load(spark, sf, "documents")
    .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("ts"))

  // Materialized once, shared by the tests below (order-independent).
  private lazy val curatedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_curated").toString
    Curation.materialize(docs, dir)
    dir
  }

  test("report: stage labels, monotone survivor counts, and boundary agreement with the composed chain") {
    val raw = docs.select("doc_id", "text")
    val rep = Curation.report(raw, raw.filter(col("doc_id") % 41 === 0))
      .orderBy("stage").collect()
    assert(rep.map(_.getString(0)).toSeq ==
      Seq("0_scrubbed", "1_gated", "2_exact_dedup", "3_near_dedup", "4_decontaminated"))
    val nDocs = rep.map(_.getLong(1)).toSeq
    val nToks = rep.map(_.getLong(2)).toSeq
    assert(nDocs.sliding(2).forall(p => p.head >= p.last),
      s"each stage only removes docs: $nDocs")
    assert(nToks.sliding(2).forall(p => p.head >= p.last),
      s"each stage only removes tokens: $nToks")
    // the stage-4 boundary IS the composed chain's survivor set
    val survivors = Curation.dedupe(Curation.gate(Curation.scrub(raw)))
    assert(nDocs(3) == survivors.count())
  }

  test("curatePublished: no stage that reads a shuffle runs more than 2 × defaultParallelism tasks") {
    // A load-independent counter on the curation chain: a few hundred docs
    // fit in a handful of tasks, so an un-coalesced shuffle wider than the
    // session's 2 partitions per core is pure per-task overhead.
    val raw = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val sc = spark.sparkContext
    val tag = "graft.spec.curation"
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val tagged = mutable.Set[Int]()
    val shuffleReadTasks = mutable.ArrayBuffer[(Int, Int)]()
    def tagOf(p: java.util.Properties) = Option(p).map(_.getProperty(tag)).orNull
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagOf(e.properties) == "chain") tagged += e.stageInfo.stageId
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        if (tagged(s.stageId) && s.parentIds.nonEmpty) shuffleReadTasks += s.stageId -> s.numTasks
      }
      // events reach a listener in order: the marker job starting means
      // every chain stage's completion has been seen
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagOf(e.properties) == "flush") flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "chain")
      Curation.curatePublished(raw, raw.filter(col("doc_id") % 41 === 0))
        .write.format("noop").mode("overwrite").save()
      sc.setLocalProperty(tag, "flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    val cap = 2 * sc.defaultParallelism
    assert(shuffleReadTasks.nonEmpty, "the chain must read at least one shuffle")
    val wide = shuffleReadTasks.filter(_._2 > cap)
    assert(wide.isEmpty, s"(stage, tasks) over $cap tasks")
  }

  test("published order: line scrub precedes normalization, repetition gate drops the spam") {
    import SparkSpec.spark.implicits._
    // Three docs share a footer line; doc 3 is repetition spam that
    // still carries enough English stopwords to clear the language gate.
    val raw = Seq(
      (1L, "the quick brown fox jumps over a lazy dog near the river bank alpha\ncommon footer"),
      (2L, "a small boat drifts along the calm water and the wind carries it to shore beta\ncommon footer"),
      (3L, "the old market opens early and many people come to trade goods here " +
        ("buy now " * 40) + "\ncommon footer")).toDF("doc_id", "text")
    val scrubbed = Curation.scrubLines(raw)
    // the footer line is corpus-wide boilerplate → gone from every doc;
    // run AFTER normalization it would silently no-op (no newlines left)
    assert(scrubbed.filter(col("text").contains("footer")).count() == 0)
    val out = Curation.repetitionGate(Curation.gate(scrubbed, minTokens = 10))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L), s"spam doc must fail the repetition gate: $out")

    // reportPublished carries one row per boundary, monotone non-increasing
    val rep = Curation.reportPublished(raw, raw.filter(col("doc_id") === 1))
      .orderBy("stage").collect()
    assert(rep.map(_.getString(0)).toSeq == Seq("0_line_scrubbed", "1_gated",
      "2_repetition_gated", "3_exact_dedup", "4_near_dedup", "5_decontaminated"))
    val nDocs = rep.map(_.getLong(1)).toSeq
    assert(nDocs.sliding(2).forall(p => p.head >= p.last),
      s"each stage only removes docs: $nDocs")
  }

  test("CCNet order: the LM tier drops OOV gibberish the earlier gates admit") {
    import SparkSpec.spark.implicits._
    val base = "the cat sat on a mat and the dog ran to the park of the town " +
      "a bird flew over the trees and the sun set to the west of the hill end"
    // 9 organic docs: the reference's bigrams + one OOV suffix — all tie
    // at ONE quantized score, so the tercile cut2 lands exactly on it.
    val organic = (1 to 9).map(i => (i.toLong, s"$base extra$i"))
    // 3 gibberish docs: enough stopwords to read as English and clear
    // the token floor, but every content bigram is out-of-vocabulary.
    val junk = (1 to 3).map(j => (100L + j,
      "the a of and to " + (1 to 30).map(n => s"zz${j}q$n").mkString(" ")))
    val raw = (organic ++ junk).toDF("doc_id", "text")
    val ref = Seq((1000L, base)).toDF("doc_id", "text")
    // the heuristic gates admit the gibberish (stopwords + length clear
    // them) — only the LM tier can tell it from fluent text
    val gated = Curation.gate(Curation.scrubLines(raw), minTokens = 30)
    assert(gated.filter(col("doc_id") > 100).count() == 3)
    val out = Curation.curateCCNet(raw, ref).collect()
    assert(out.map(_.getLong(0)).toSet == (1 to 9).map(_.toLong).toSet,
      s"kept: ${out.map(_.getLong(0)).toSet}")
    // pack tail: contiguous token offsets in doc_id order
    val sorted = out.sortBy(_.getLong(0))
    val offs = sorted.map(r => (r.getLong(1), r.getLong(2)))
    assert(offs.scanLeft(0L)(_ + _._1).init.sameElements(offs.map(_._2)))
    // the report agrees with the chain: head+middle doc counts = packed
    // rows, and the tail row holds exactly the gibberish
    val rep = Curation.reportCCNet(raw, ref).collect()
    assert(rep.filter(_.getInt(1) < 3).map(_.getLong(2)).sum == out.length)
    assert(rep.filter(_.getInt(1) == 3).map(_.getLong(2)).sum == 3)
  }

  test("refined order: the span stage only shrinks docs, and cuts exactly the shared passage") {
    import SparkSpec.spark.implicits._
    // Same chain prefix as curatePublished; the ONLY difference is the
    // terminal ExactSubstr stage — so comparing both over the same raw
    // isolates exactly what span dedup did.
    // rotated stopwords keep the language gate green WITHOUT repeating
    // any 2-gram (a fixed "the X of" pattern would trip the repetition
    // gate on "of the")
    val sw = Seq("the", "a", "of", "and", "to")
    def en(tag: String, n: Int): String =
      (1 to n).map(i => s"${sw(i % 5)} $tag$i").mkString(" ")
    val quote = (1 to 9).map(i => s"shared$i").mkString(" ")  // 9 tokens, k=5 below
    val raw = Seq(
      (1L, en("alpha", 16) + " " + quote),  // canonical: first doc with the passage
      (2L, en("bravo", 16) + " " + quote),  // loses exactly the passage
      (3L, en("charlie", 16) + " " + quote),
      (4L, en("delta", 16))                 // no passage: untouched
    ).toDF("doc_id", "text")
    val bench = raw.filter(col("doc_id") < 0) // empty benchmark
    val pub = Curation.curatePublished(raw, bench)
      .select("doc_id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = Curation.curateRefined(raw, bench, spanK = 5)
      .select("doc_id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ref.keySet == pub.keySet, s"span stage dropped a doc: $ref vs $pub")
    assert(ref(1L) == pub(1L), "the corpus-wide first occurrence keeps its passage")
    for (id <- Seq(2L, 3L))
      assert(ref(id) == pub(id) - 9,
        s"doc $id must lose exactly the 9-token passage: ${ref(id)} vs ${pub(id)}")
    assert(ref(4L) == pub(4L), "a doc without the passage is untouched")
  }

  test("mix: token shares approach the target, clamp at rate 1, deterministic under a seed") {
    import org.apache.spark.sql.functions.{size => asize, sum => asum}
    val n = docs.select(col("doc_id"), asize(col("ts")).cast("bigint").as("n_tokens"))
    val a = n.filter(col("doc_id") % 3 === 0)
    val b = n.filter(col("doc_id") % 3 =!= 0)
    val srcs = Seq(("web", a, 0.3), ("books", b, 0.7))
    def tokensBySource(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.groupBy("source").agg(asum("n_tokens").as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val budget = 3000L // well under either side's total at sf0.001
    val got = tokensBySource(graft.text.Curation.mix(srcs, "doc_id", "n_tokens", budget))
    // Bernoulli on docs: expect each domain within 50% of its allotment
    // (deterministic — these are fixed seeds on fixed data, the bound is
    // slack so a testdata regeneration won't flake it)
    assert(math.abs(got("web") - 900) < 450, s"web tokens ${got("web")} vs target 900")
    assert(math.abs(got("books") - 2100) < 1050, s"books tokens ${got("books")} vs target 2100")

    // a budget larger than the corpus keeps everything (rate clamps at 1)
    val all = tokensBySource(graft.text.Curation.mix(srcs, "doc_id", "n_tokens", 100000000L))
    val totals = tokensBySource(a.withColumn("source", lit("web"))
      .unionByName(b.withColumn("source", lit("books"))))
    assert(all == totals, "rate 1 must keep every doc")

    // same seed → identical selection; different seed → different selection
    val s1 = graft.text.Curation.mix(srcs, "doc_id", "n_tokens", budget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = graft.text.Curation.mix(srcs, "doc_id", "n_tokens", budget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s3 = graft.text.Curation.mix(srcs, "doc_id", "n_tokens", budget, seed = 99)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1 != s3)

    // an empty source fails with its NAME in the message, not a bare NPE
    val e = intercept[IllegalArgumentException] {
      graft.text.Curation.mix(
        Seq(("void", n.filter(col("doc_id") < 0), 1.0)), "doc_id", "n_tokens", 100L)
    }
    assert(e.getMessage.contains("void"))
  }

  test("mixTemperature: alpha=1 is natural proportions; alpha=0.5 upweights the small source") {
    import org.apache.spark.sql.functions.{size => asize, sum => asum}
    val n = docs.select(col("doc_id"), asize(col("ts")).cast("bigint").as("n_tokens"))
    val big = n.filter(col("doc_id") % 7 < 5)
    val small = n.filter(col("doc_id") % 7 >= 5)
    val srcs = Seq(("big", big), ("small", small))
    def tokensBySource(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.groupBy("source").agg(asum("n_tokens").as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // alpha = 1 reproduces mix() under the natural shares (same driver
    // double arithmetic: w_i = t_i, share = w_i / (w_big + w_small))
    def tot(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(asum("n_tokens")).head().getLong(0)
    val (tb, ts) = (tot(big), tot(small))
    val wsum = tb.toDouble + ts.toDouble
    val natural = graft.text.Curation.mix(
      Seq(("big", big, tb.toDouble / wsum), ("small", small, ts.toDouble / wsum)),
      "doc_id", "n_tokens", 3000L)
    val alpha1 = graft.text.Curation.mixTemperature(srcs, "doc_id", "n_tokens",
      3000L, alpha = 1.0)
    assert(alpha1.select("source", "doc_id").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSet ==
      natural.select("source", "doc_id").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSet)

    // alpha = 0.5: the small source's accepted-token share strictly
    // exceeds its natural share of the same budget
    val t05 = tokensBySource(graft.text.Curation.mixTemperature(
      srcs, "doc_id", "n_tokens", 3000L, alpha = 0.5))
    val t1 = tokensBySource(alpha1)
    assert(t05("small") > t1("small"),
      s"sqrt temperature must upweight the small source: $t05 vs $t1")

    // a libm-dependent exponent is rejected at the call site
    val e = intercept[IllegalArgumentException] {
      graft.text.Curation.mixTemperature(srcs, "doc_id", "n_tokens", 3000L,
        alpha = 0.3)
    }
    assert(e.getMessage.contains("IEEE-exact"))
  }

  test("mixture artifact: split-pruned reload, spans tile every sequence, id-collision guard") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mixture").toString
    val raw = docs.select("doc_id", "text")
    Curation.materializeMixture(
      Seq(("web", raw.filter(col("doc_id") % 3 === 0), 0.3),
          ("books", raw.filter(col("doc_id") % 3 =!= 0), 0.7)),
      dir, budgetTokens = 3000)
    // the artifact is split-partitioned and reloads pruned
    assert(SplitSource.read(spark, dir, "train").count() > 0)
    // every reloaded sequence's spans tile its own token count — the q63
    // law, re-checked over the WRITTEN mixture artifact
    val bad = spark.read.parquet(dir).select(
        size(col("tokens")).cast("long").as("n"),
        aggregate(col("spans"), lit(0L), (acc, s) =>
          acc + s.getField("span_end") - s.getField("span_start")).as("covered"))
      .filter(col("n") =!= col("covered")).count()
    assert(bad == 0, "spans must tile every packed sequence exactly")
    // colliding doc_ids across sources trip the probe before any write
    val e = intercept[IllegalArgumentException] {
      Curation.materializeMixture(
        Seq(("a", raw, 0.5), ("b", raw, 0.5)), s"$dir-collide", 3000)
    }
    assert(e.getMessage.contains("disjoint"))
  }

  test("curate → write split-partitioned → Catalog reload round-trips the frame") {
    val packed = Curation.curate(docs)
    val catalog = Catalog.forTestData(spark, sf)
      .register("curated_corpus", () => spark.read.parquet(curatedDir),
        Seq(col("doc_id")))
    val reloaded = catalog.load("curated_corpus")
    // every split value is one of the three configured ones
    assert(reloaded.select("split").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "valid", "test")))
    // the reloaded rows (sans the split column) ARE the packed frame
    val cols = packed.columns.map(col).toSeq
    val back = reloaded.select(cols: _*)
    assert(back.count() == packed.count())
    assert(back.exceptAll(packed).isEmpty && packed.exceptAll(back).isEmpty,
      "reloaded curated corpus must match the in-memory curation result")
  }

  test("split selection is partition pruning at the scan, not a post-filter") {
    val p = SplitSource.read(spark, curatedDir, "train")
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(split"),
      s"split=train must prune partitions at the scan:\n$p")
  }

  // Token artifact, materialized once, shared by the tests below.
  private lazy val tokensDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_curated_tok").toString
    Curation.materializeTokens(docs, dir)
    dir
  }

  test("materializeTokens: packed token sequences round-trip and feed an epoch of token batches") {
    val dir = tokensDir
    val all = spark.read.parquet(dir).select("seq_id", "tokens")
    val n = all.count()
    assert(n > 0)
    // exactly one partial sequence globally (the corpus tail); all others
    // are full 512-token training rows
    assert(all.filter(size(col("tokens")) =!= 512).count() <= 1)
    // the training loop: reload one split, iterate token-array batches
    val train = SplitSource.read(spark, dir, "train").select("seq_id", "tokens")
    assert(train.count() > 0, "train split should hold sequences")
    val ds = DataStream(train, SequentialScheme(2), Seq(col("seq_id")))
    val batches = ds.epochIterator().toSeq
    assert(batches.map(_.size).sum == train.count())
    assert(batches.head.head.getSeq[Long](1).nonEmpty, "rows carry the token arrays")

    // the artifact carries the attention-mask spans, and they tile each
    // row's OWN token count exactly (start 0, abutting, end == len)
    val withSpans = spark.read.parquet(dir)
      .select(size(col("tokens")).as("n"), col("spans")).collect()
    withSpans.foreach { r =>
      val n = r.getInt(0)
      val spans = r.getSeq[org.apache.spark.sql.Row](1)
        .map(s => (s.getLong(0), s.getLong(1)))
      assert(spans.head._1 == 0 && spans.last._2 == n.toLong,
        s"spans must cover [0, $n): $spans")
      spans.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(e1 == s2, s"gap/overlap in $spans")
        case _ =>
      }
    }
  }

  test("catalog-registered token artifact: defaultStream yields split-pruned, float-cast token batches") {
    import graft.transform.{Cast, FilterSources}
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    // the fuel named-dataset story over our OWN artifact: bind the
    // materialized train split plus its default chain (select the training
    // sources, cast tokens to floatX) under a catalog name, then ask for
    // the default stream — mnist.py:24-27's shape, engine edition
    val catalog = new Catalog(spark).registerSplit(
      "curated_tokens/train", tokensDir, "train", Seq(col("seq_id")),
      defaults = Seq(FilterSources(Seq("seq_id", "tokens")), Cast("floatX", Seq("tokens"))))
    val stream = catalog.defaultStream("curated_tokens/train")
    assert(stream.columns.toSeq == Seq("seq_id", "tokens"))
    assert(stream.schema("tokens").dataType.asInstanceOf[ArrayType].elementType == FloatType,
      s"default chain must cast tokens to floatX, got ${stream.schema("tokens").dataType}")
    // the defaults fold into the split-PRUNED scan: pruning survives the chain
    val p = stream.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(split"),
      s"default chain must not break split partition pruning:\n$p")
    // and the training loop drives an epoch of float-cast batches off it
    val n = stream.count()
    assert(n > 0)
    val ds = DataStream(stream, SequentialScheme(4), catalog.order("curated_tokens/train"))
    val batches = ds.epochIterator().toSeq
    assert(batches.map(_.size).sum == n, "epoch must visit every train sequence once")
    assert(batches.head.head.getSeq[Float](1).nonEmpty, "rows carry float token arrays")
  }

  test("semantic dedup stage (4b): checked no-op on organic survivors, drops planted clones") {
    val survivors = Curation.curatedDocs(docs)
    val emb = Tables.load(spark, sf, "embeddings")
    // organic synthetic data has no pair above ~0.51, so at 0.99 the
    // stage must pass every survivor through
    assert(Curation.semanticDedupe(survivors, emb).count() == survivors.count())
    // plant EXACT clones of 3 survivors: identical vectors get identical
    // centroid sims, hence the same cluster, deterministically — the
    // clones' higher ids must drop, the originals stay
    val some = survivors.orderBy("doc_id").limit(3).select("doc_id")
    val cloneDocs = survivors.join(some, "doc_id")
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("ts"))
    val cloneEmb = emb.join(some.select(col("doc_id").as("vec_id")), "vec_id")
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label"))
    val out = Curation.semanticDedupe(
      survivors.unionByName(cloneDocs), emb.unionByName(cloneEmb))
    assert(out.count() == survivors.count(), "exactly the clones drop")
    assert(out.filter(col("doc_id") >= 1000000L).count() == 0, "the higher id of each pair drops")
  }

  test("scrub + decontaminate: redaction fires before normalization; eval copies never pack") {
    import SparkSpec.spark.implicits._
    // scrub: redact-then-normalize — the email survives as the token
    // 'email', not as its normalized fragments ('user7 mail example com')
    val pii = Seq((1L, "Reach me at user7@mail.example.com today!")).toDF("doc_id", "text")
    val scrubbed = Curation.scrub(pii).select("text").as[String].head()
    assert(scrubbed == "reach me at email today", s"got: $scrubbed")
    // decontaminate: a doc sharing its 3-shingles with a benchmark doc is
    // dropped; an unrelated doc passes through
    val corpus = Curation.scrub(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text"))
    val bench = Curation.scrub(Seq(
      (100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"))
    val clean = Curation.decontaminate(corpus, bench)
    assert(clean.select("doc_id").as[Long].collect().toSeq == Seq(2L),
      "the benchmark copy must drop; the unrelated doc must survive")
  }

  test("reloaded train split drives a full epoch through DataStream") {
    val train = SplitSource.read(spark, curatedDir, "train")
      .select("doc_id", "n_tokens", "tok_offset", "first_seq", "last_seq")
    val n = train.count()
    assert(n > 0, "train split should not be empty")
    val ds = DataStream(train, SequentialScheme(32), Seq(col("doc_id")))
    val batches = ds.epochIterator().toSeq
    assert(batches.map(_.size).sum == n, "epoch must visit every train row once")
    assert(batches.size == (n + 31) / 32)
    assert(batches.dropRight(1).forall(_.size == 32), "only the last batch may be short")
    // rows arrive in doc_id order within the sequential scheme
    val ids = batches.flatten.map(_.getLong(0))
    assert(ids == ids.sorted)
  }

  test("curateFineWeb: sharded dedup, blocklist, and PII-last, one plant each") {
    import SparkSpec.spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog and runs to the " +
      "old mill of the town while a bright morning sun rises above the " +
      "quiet river bank near tall green trees today contact bob@example.com"
    val rows = Seq(
      (1L, "snap_a", base),                       // keeps: the shard-a original
      (2L, "snap_b", base),                       // exact clone, OTHER shard → keeps
      (3L, "snap_a", "zzz" + base.drop(3)),       // near clone, SAME shard → drops
      (4L, "badsite", base)                       // blocklisted → drops
    ).toDF("doc_id", "source", "text")
    val out = Curation.curateFineWeb(rows, blocked = Seq("badsite"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean")).toMap
    // cross-shard duplicate SURVIVES (FineWeb §3.4), same-shard near-dup
    // and the blocklisted doc drop
    assert(out.keySet == Set(1L, 2L))
    // redaction ran LAST, on still-structured text
    assert(out(1L).contains("<email>") && !out(1L).contains("bob@example.com"))
  }

  test("curateC4: line rule, word rule, language rule, and line-span dedup, one plant each") {
    import SparkSpec.spark.implicits._
    val footer = "visit our store today.\nthanks for reading along.\nsee you next time."
    val rows = Seq(
      (1L, s"the quick brown fox of the town runs far.\nclick here\n$footer"),
      (2L, s"a second page of the quiet river and morning sun.\n$footer"),
      (3L, "the good page of the day has badword inside."),
      (4L, "el la de y que la el y va."),
      (5L, "the last page of all to read today.")).toDF("doc_id", "text")
    val out = Curation.curateC4(rows, bannedWords = Seq("badword"))
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_lines"),
          r.getAs[Long]("n_lines_removed"), r.getAs[Long]("n_spans")))).toMap
    // doc 3 (word rule) and doc 4 (language rule) vanish
    assert(out.keySet == Set(1L, 2L, 5L))
    // doc 1: CTA line dropped by the line rule; canonical footer KEEPS
    assert(out(1L)._1 == s"the quick brown fox of the town runs far.\n$footer")
    assert(out(1L)._3 == 0L)
    // doc 2: its footer window duplicates doc 1's -> all three lines cut
    assert(out(2L)._1 == "a second page of the quiet river and morning sun.")
    assert(out(2L) == (("a second page of the quiet river and morning sun.", 4L, 3L, 1L)))
    // doc 5: untouched single line
    assert(out(5L) == (("the last page of all to read today.", 1L, 0L, 0L)))
  }

  test("mixWithRepeats: full epochs unconditional, fractional epoch Bernoulli, r<1 == mix") {
    import SparkSpec.spark.implicits._
    // One source, 5 docs x 2 tokens = 10 total; budget 25 -> rate 2.5:
    // epochs 0,1 keep all 5 docs; epoch 2 admits by hash % 1e6 < 500000.
    val src = (1L to 5L).map(i => (i, 2L)).toDF("doc_id", "n_tokens")
    val out = Curation.mixWithRepeats(Seq(("a", src, 1.0)), "doc_id", "n_tokens",
        budgetTokens = 25, seed = 13)
      .select("epoch", "doc_id").as[(Long, Long)].collect()
    assert(out.count(_._1 == 0L) == 5 && out.count(_._1 == 1L) == 5)
    val fracIds = out.filter(_._1 == 2L).map(_._2).toSet
    val expect = src.withColumn("h",
        pmod(graft.functions.Stable.seededHash(13, lit("a"), $"doc_id"), lit(1000000L)))
      .filter($"h" < 500000L).select("doc_id").as[Long].collect().toSet
    assert(fracIds == expect, s"fractional epoch $fracIds vs $expect")
    // r < 1: identical doc set to mix, all at epoch 0
    val down = Curation.mixWithRepeats(Seq(("a", src, 1.0)), "doc_id", "n_tokens",
      budgetTokens = 6, seed = 13)
    assert(down.select("epoch").distinct().as[Long].collect().toSeq == Seq(0L))
    val mixIds = Curation.mix(Seq(("a", src, 1.0)), "doc_id", "n_tokens",
      budgetTokens = 6, seed = 13).select("doc_id").as[Long].collect().toSet
    assert(down.select("doc_id").as[Long].collect().toSet == mixIds)
    // the epoch-explosion guard
    val ex = intercept[IllegalArgumentException] {
      Curation.mixWithRepeats(Seq(("a", src, 1.0)), "doc_id", "n_tokens",
        budgetTokens = 10000, seed = 13, maxEpochs = 10)
    }
    assert(ex.getMessage.contains("full epochs"))
  }

  test("mixReport: derived scalars hand-checked, realized counts match the mixture") {
    import SparkSpec.spark.implicits._
    val src = (1L to 5L).map(i => (i, 2L)).toDF("doc_id", "n_tokens")
    val out = Curation.mixReport(Seq(("a", src, 1.0)), "doc_id", "n_tokens",
      budgetTokens = 25, seed = 13).collect()(0)
    assert(out.getAs[Long]("available_tokens") == 10L)
    assert(out.getAs[Double]("rate") == 2.5)
    assert(out.getAs[Long]("full_epochs") == 2L)
    assert(out.getAs[Long]("frac_threshold") == 500000L)
    val mixed = Curation.mixWithRepeats(Seq(("a", src, 1.0)), "doc_id",
      "n_tokens", budgetTokens = 25, seed = 13)
    assert(out.getAs[Long]("accepted_rows") == mixed.count())
    assert(out.getAs[Long]("accepted_tokens") ==
      mixed.agg(sum(col("n_tokens"))).collect()(0).getLong(0))
  }

  test("capPerGroup: keeps the cap-smallest seeded hashes per group, small groups ride") {
    import SparkSpec.spark.implicits._
    val rows = ((1L to 20L).map(i => ("big", i)) ++ Seq(("small", 100L), ("small", 101L)))
      .toDF("dom", "doc_id")
    val out = Curation.capPerGroup(rows, "dom", "doc_id", cap = 5, seed = 17)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val counts = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(counts == Map("big" -> 5, "small" -> 2), s"got $counts")
    // kept set == the 5 smallest hashes, independently recomputed
    val expect = rows.filter($"dom" === "big")
      .withColumn("h", graft.functions.Stable.seededHash(17, $"dom", $"doc_id"))
      .orderBy("h").limit(5).select("doc_id").as[Long].collect().toSet
    assert(out.filter(_._1 == "big").map(_._2).toSet == expect)
    // determinism under repartitioning (retry/speculation shape)
    val re = Curation.capPerGroup(rows.repartition(7), "dom", "doc_id", cap = 5, seed = 17)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(re == out.toSet)
  }

  test("curriculum: pools nest, grow to the full group, easiest join first, deterministic") {
    import SparkSpec.spark.implicits._
    // two groups with different score distributions; 40 docs each
    val docs = (0 until 40).flatMap(i => Seq(
      ("a", i.toLong, (i % 10 + 1).toLong),       // scores 1..10, uniform
      ("b", (i + 100).toLong, (i / 10 + 1).toLong) // scores 1..4, 10 docs each
    )).toDF("g", "id", "sc")
    val out = Curation.curriculum(docs, "g", "id", "sc", epochs = 4, seed = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val pools = out.groupBy(t => (t._1, t._2)).view
      .mapValues(_.map(_._3).toSet).toMap
    for (g <- Seq("a", "b"); e <- 0L to 2L)
      assert(pools((g, e)).subsetOf(pools((g, e + 1))),
        s"pool ($g, $e) not nested in epoch ${e + 1}")
    // final epoch covers everything
    assert(pools(("a", 3L)).size == 40 && pools(("b", 3L)).size == 40)
    // group b: scores 1..4 in equal tens -> pool sizes exactly 10/20/30/40
    assert((0L to 3L).map(e => pools(("b", e)).size) == Seq(10, 20, 30, 40))
    // easiest-first: epoch-0 docs of b are exactly the score-1 docs
    val bScore = docs.filter($"g" === "b").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(pools(("b", 0L)).forall(bScore(_) == 1L))
    // joined_at is consistent: a doc appears in exactly epochs joined_at..3
    out.groupBy(t => (t._1, t._3)).foreach { case ((_, _), rows) =>
      val ja = rows.head._4
      assert(rows.map(_._2).sorted.toSeq == (ja.toLong to 3L).toSeq)
    }
    // deterministic under repartitioning
    val re = Curation.curriculum(docs.repartition(7), "g", "id", "sc",
        epochs = 4, seed = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(re.toSet == out.toSet)
  }
}
