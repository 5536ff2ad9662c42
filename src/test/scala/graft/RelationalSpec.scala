package graft

import graft.queries.Relational

class RelationalSpec extends SparkSpec {

  test("every relational query runs and returns rows at sf0.001") {
    for ((name, fn) <- Relational.queries) {
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }

  test("q1_agg groups by (returnflag, linestatus) with positive sums") {
    val rows = Relational.queries("q1_agg")(spark, sf).collect()
    assert(rows.length >= 3 && rows.length <= 9)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Long]("count_order") > 0)
    }
  }

  test("q5_topk returns exactly 10 rows in descending price order") {
    val prices = Relational.queries("q5_topk")(spark, sf)
      .collect().map(_.getAs[Double]("o_totalprice"))
    assert(prices.length == 10)
    assert(prices.sameElements(prices.sorted(Ordering[Double].reverse)))
  }

  test("q7_setops partitions all customers into buyer/no_orders") {
    val df = Relational.queries("q7_setops")(spark, sf)
    val total = graft.sources.Tables.load(spark, sf, "customer").count()
    assert(df.count() == total)
  }

  test("every oracle key names an implemented query, across ALL query groups") {
    val (oracles, queries) = (SparkEntry.oracleSql.keySet, SparkEntry.queries.keySet)
    assert(oracles == queries, s"oracles without queries: ${oracles.diff(queries)}; " +
      s"queries without oracles: ${queries.diff(oracles)}")
  }

  test("catalog default_stream folds the registered transformer chain") {
    import org.apache.spark.sql.functions.col
    val cat = new graft.sources.Catalog(spark)
      .register("li", () => graft.sources.Tables.load(spark, sf, "lineitem"),
        Seq(col("l_orderkey"), col("l_linenumber")),
        defaults = Seq(
          graft.transform.ScaleAndShift(1.0 / 256, 0.0, Seq("l_quantity")),
          graft.transform.Cast("floatX", Seq("l_quantity")),
          graft.transform.FilterSources(Seq("l_orderkey", "l_quantity"))))
    val out = cat.defaultStream("li")
    assert(out.columns.toSeq == Seq("l_orderkey", "l_quantity"))
    assert(out.schema("l_quantity").dataType == org.apache.spark.sql.types.FloatType)
    val raw = cat.load("li")
    assert(raw.columns.length > 2) // defaults don't leak into raw load
    intercept[IllegalArgumentException] { cat.load("nope") }
  }

  test("mnist-mini: the named public-dataset binding end-to-end (fuel mnist.py:7-33)") {
    // A deterministic MNIST-SHAPED fixture (64 "images" of 784 raw pixel
    // ints in [0, 255], labels 0-9) written as parquet, then bound by
    // name with fuel's exact default chain (uint8_pixels_to_floatX):
    // defaultStream must yield floatX features in [0, 1] with value
    // pixel/255 — the contract MNIST(('train',)).default_stream() gives
    // a fuel user, minus only the real file bytes.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("mnist-mini").toString
    spark.range(64).select(col("id").as("idx"),
        expr("transform(sequence(0, 783), j -> CAST((id * 31 + j * 17) % 256 AS INT))")
          .as("features"),
        (col("id") % 10).as("label"))
      .write.mode("overwrite").parquet(dir)
    val cat = new graft.sources.Catalog(spark).registerMnist(dir)
    val out = cat.defaultStream("mnist-mini")
    assert(cat.order("mnist-mini").map(_.toString).contains("idx"))
    val ft = out.schema("features").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(ft == Graft.floatX, s"default chain must land on floatX, got $ft")
    val row = out.filter(col("idx") === 3).select(col("features")).head()
    val feats = row.getSeq[Float](0)
    assert(feats.length == 784)
    // pixel (idx=3, j=2) = (93 + 34) % 256 = 127 -> 127/255
    assert(math.abs(feats(2) - 127f / 255f) < 1e-6)
    assert(feats.forall(v => v >= 0f && v <= 1f))
    // raw load stays untransformed ints
    assert(cat.load("mnist-mini").schema("features").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("cifar10-mini: named binding with a BINARY-image default chain + defaultStream epoch") {
    // The second named public-dataset binding (fuel cifar10.py:6-26),
    // proving the default-transformer mechanism on codec-backed storage:
    // the fixture holds PNG BYTES (not scalar arrays), and the default
    // chain runs the real ImageIO decode -> uint8->unit floats -> floatX.
    import org.apache.spark.sql.functions._
    import graft.image.ImageOps
    import graft.image.ImageOps.Frame
    val dir = java.nio.file.Files.createTempDirectory("cifar10-mini").toString
    val mkPng = udf { (id: Long) =>
      ImageOps.encodePng(Frame(32, 32, 3,
        Array.tabulate[Byte](32 * 32 * 3)(j => ((id * 31 + j * 7) % 256).toByte)))
    }
    spark.range(48).select(col("id").as("idx"), mkPng(col("id")).as("features"),
        (col("id") % 10).as("label"))
      .write.mode("overwrite").parquet(dir)
    val cat = new graft.sources.Catalog(spark).registerCifar10(dir)
    val out = cat.defaultStream("cifar10-mini")
    val ft = out.schema("features").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(ft == Graft.floatX, s"default chain must land on floatX, got $ft")
    val feats = out.filter(col("idx") === 5).select(col("features"))
      .head().getSeq[Float](0)
    assert(feats.length == 32 * 32 * 3)
    // PNG is lossless: pixel (idx=5, j=10) = (5*31 + 70) % 256 = 225 -> 225/255
    assert(math.abs(feats(10) - 225f / 255f) < 1e-6)
    assert(feats.forall(v => v >= 0f && v <= 1f))
    // raw load stays encoded bytes — the defaults, not the storage, decode
    assert(cat.load("cifar10-mini").schema("features").dataType ==
      org.apache.spark.sql.types.BinaryType)
    // and the stream drives a real epoch: a seeded-shuffle scheme over the
    // decoded stream yields all 48 examples exactly once
    val ds = graft.stream.DataStream(out, graft.schemes.ShuffledExampleScheme(seed = 7),
      cat.order("cifar10-mini"))
    val seen = ds.epochIterator().flatMap(_.map(_.getLong(0))).toSeq
    assert(seen.sorted == (0L until 48L), s"epoch did not cover the fixture: $seen")
    assert(seen != seen.sorted, "shuffled epoch came out in sequential order")
  }

  test("youtube-audio-mini: named binding with a binary-AUDIO default chain") {
    // Third modality through the default-transformer mechanism: WAV bytes
    // in storage, the real javax.sound decode in the default chain.
    import org.apache.spark.sql.functions._
    import graft.image.AudioOps
    val dir = java.nio.file.Files.createTempDirectory("yta-mini").toString
    val mkWav = udf { (id: Long) =>
      AudioOps.encodeWav(Array.tabulate(64)(j =>
        ((id * 13 + j * 5) % 200 - 100) / 128.0f), 8000f)
    }
    spark.range(12).select(col("id").as("idx"), mkWav(col("id")).as("features"))
      .write.mode("overwrite").parquet(dir)
    val cat = new graft.sources.Catalog(spark).registerYoutubeAudio(dir)
    val out = cat.defaultStream("youtube-audio-mini")
    val ft = out.schema("features").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(ft == Graft.floatX, s"default chain must land on floatX, got $ft")
    val feats = out.filter(col("idx") === 2).select(col("features"))
      .head().getSeq[Float](0)
    assert(feats.length == 64)
    // 16-bit PCM round trip: amplitude recovered to 1/32768 absolute
    val expect = ((2 * 13 + 10 * 5) % 200 - 100) / 128.0f
    assert(math.abs(feats(10) - expect) <= 1.0f / 32768 + 1e-6,
      s"sample 10: got ${feats(10)}, expected ~$expect")
    assert(feats.forall(v => v >= -1f && v <= 1f))
    assert(cat.load("youtube-audio-mini").schema("features").dataType ==
      org.apache.spark.sql.types.BinaryType)
  }

  test("adult-mini: tabular binding with an EMPTY default chain (fuel adult.py:5, base.py:43-49)") {
    // The catalog's null case: Adult/Iris bind splits with NO default
    // transformers, so default_stream must be the raw split-pruned scan —
    // identity content, identity schema, and still partition-pruned.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("adult-mini").toString
    val rows = spark.range(40).select(col("id").as("idx"),
      (col("id") % 60 + 17).as("age"),
      (col("id") % 2).cast("int").as("label"),
      when(col("id") < 30, "train").otherwise("test").as("split"))
    graft.sources.SplitSource.write(rows, dir)
    val cat = new graft.sources.Catalog(spark).registerAdult(dir)
    assert(cat.names.contains("adult-mini/train") && cat.names.contains("adult-mini/test"))
    val stream = cat.defaultStream("adult-mini/train")
    val raw = cat.load("adult-mini/train")
    // empty chain => defaultStream IS the raw load: same schema, same rows
    assert(stream.schema == raw.schema)
    assert(stream.count() == 30 && raw.count() == 30)
    assert(stream.agg(sum(col("age"))).head().getLong(0) ==
      raw.agg(sum(col("age"))).head().getLong(0))
    assert(cat.defaultStream("adult-mini/test").count() == 10)
    // and the split selection stays a PARTITION filter at the scan
    val plan = stream.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("split"),
      s"split must prune partitions, not post-filter:\n$plan")
  }

  test("iris-mini: fuel's single-'all'-split tabular binding (fuel iris.py:5,22)") {
    // Same empty-default contract as Adult, other split shape: one 'all'
    // split carrying every example (which_sets valid value is 'all').
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("iris-mini").toString
    val rows = spark.range(150).select(col("id").as("idx"),
      (col("id") % 30 / 10.0 + 4.3).as("sepal_length"),
      (col("id") / 50).cast("int").as("label"),
      lit("all").as("split"))
    graft.sources.SplitSource.write(rows, dir)
    val cat = new graft.sources.Catalog(spark).registerIris(dir)
    assert(cat.names.contains("iris-mini/all"))
    val stream = cat.defaultStream("iris-mini/all")
    val raw = cat.load("iris-mini/all")
    assert(stream.schema == raw.schema)
    assert(stream.count() == 150)
    assert(stream.groupBy("label").count().count() == 3) // 3 x 50 classes
  }

  test("svhn-format-1-mini: ragged bbox companion sources, the fifth catalog shape (fuel svhn.py:22-45)") {
    // Format 1: variable-size scene PNGs + five variable-LENGTH bbox
    // companion arrays per example, ('bounding_box', ...) axis labels,
    // the format-parameterized filename, and the train/test/'extra'
    // split triple — each a partition-pruned scan.
    import org.apache.spark.sql.functions._
    import graft.image.ImageOps
    import graft.image.ImageOps.Frame
    import graft.types.AxisLabels
    val dir = java.nio.file.Files.createTempDirectory("svhn-mini").toString
    // Variable image sizes (width 8 + idx%3) and ragged box counts
    // (1 + idx%3 digits per scene) — the raggedness IS the shape under test.
    val mkPng = udf { (id: Long) =>
      val w = 8 + (id % 3).toInt
      ImageOps.encodePng(Frame(6, w, 3,
        Array.tabulate[Byte](6 * w * 3)(j => ((id * 31 + j * 7) % 256).toByte)))
    }
    val nBox = col("idx") % 3 + 1
    val rows = spark.range(30).select(col("id").as("idx"))
      .withColumn("features", mkPng(col("idx")))
      .withColumn("bbox_labels",
        expr("transform(sequence(1, CAST(idx % 3 + 1 AS INT)), b -> CAST((idx + b) % 10 AS INT))"))
      .withColumn("bbox_heights",
        expr("transform(sequence(1, CAST(idx % 3 + 1 AS INT)), b -> CAST(6 AS INT))"))
      .withColumn("bbox_widths",
        expr("transform(sequence(1, CAST(idx % 3 + 1 AS INT)), b -> CAST(3 AS INT))"))
      .withColumn("bbox_lefts",
        expr("transform(sequence(1, CAST(idx % 3 + 1 AS INT)), b -> CAST(b * 2 AS INT))"))
      .withColumn("bbox_tops",
        expr("transform(sequence(1, CAST(idx % 3 + 1 AS INT)), b -> CAST(0 AS INT))"))
      .withColumn("split",
        when(col("idx") < 20, "train").when(col("idx") < 26, "test")
          .otherwise("extra"))
    graft.sources.SplitSource.write(rows, s"$dir/svhn_format_1")
    val cat = new graft.sources.Catalog(spark).registerSvhn(dir)
    // all three fuel splits, including 'extra' (svhn.py:27-31)
    assert(Seq("train", "test", "extra").forall(s =>
      cat.names.contains(s"svhn-format-1-mini/$s")))
    val raw = cat.load("svhn-format-1-mini/train")
    // ragged companions round-trip: box count tracks idx%3+1, values exact
    val b7 = raw.filter(col("idx") === 7)
      .select("bbox_labels", "bbox_lefts").head()
    assert(b7.getSeq[Int](0) == Seq(8, 9) && b7.getSeq[Int](1) == Seq(2, 4))
    assert(raw.filter(col("idx") === 2).select("bbox_labels").head()
      .getSeq[Int](0).length == 3)
    // ('bounding_box', ...) axis labels declared on every companion
    assert(AxisLabels.get(raw, "bbox_labels") == Some(Seq("bounding_box", "index")))
    assert(AxisLabels.get(raw, "bbox_tops") == Some(Seq("bounding_box", "y")))
    assert(AxisLabels.get(raw, "features") == Some(Seq("channel", "height", "width")))
    // default chain: decode -> unit floats -> floatX on features ONLY;
    // a variable-size image decodes to its own length
    val out = cat.defaultStream("svhn-format-1-mini/train")
    val ft = out.schema("features").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(ft == Graft.floatX)
    val r5 = out.filter(col("idx") === 5).select("features", "bbox_labels").head()
    val feats = r5.getSeq[Float](0)
    assert(feats.length == 6 * (8 + 5 % 3) * 3) // width 10 scene
    // PNG is lossless: pixel (idx=5, j=10) = (5*31 + 70) % 256 = 225
    assert(math.abs(feats(10) - 225f / 255f) < 1e-6)
    assert(r5.getSeq[Int](1) == Seq(6, 7, 8)) // companions untouched
    // split selection is partition pruning, and 'extra' holds its 4 rows
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("split"),
      s"split must prune partitions, not post-filter:\n$plan")
    assert(cat.load("svhn-format-1-mini/extra").count() == 4)
    // format 2 reads its OWN parameterized filename with the MNIST-shaped
    // chain and no companions
    spark.range(10).select(col("id").as("idx"),
        expr("transform(sequence(0, 11), j -> CAST((id * 31 + j * 17) % 256 AS INT))")
          .as("features"),
        (col("id") % 10).cast("int").as("label"),
        lit("train").as("split"))
      .write.partitionBy("split").mode("overwrite")
      .parquet(s"$dir/svhn_format_2")
    val cat2 = new graft.sources.Catalog(spark).registerSvhn(dir, whichFormat = 2)
    val out2 = cat2.defaultStream("svhn-format-2-mini/train")
    val f2 = out2.filter(col("idx") === 3).select("features").head().getSeq[Float](0)
    assert(math.abs(f2(2) - 127f / 255f) < 1e-6) // (93 + 34) % 256 = 127
    intercept[IllegalArgumentException] {
      new graft.sources.Catalog(spark).registerSvhn(dir, whichFormat = 3)
    }
  }

  test("thin bindings: CIFAR-100 dual labels, BinarizedMNIST, Caltech101Silhouettes sizes") {
    // The remaining fuel named-dataset table, closed via the existing
    // parameterized registrars — each case asserts exactly the trait
    // that distinguishes the binding.
    import org.apache.spark.sql.functions._
    import graft.image.ImageOps
    import graft.image.ImageOps.Frame
    val base = java.nio.file.Files.createTempDirectory("thin-bindings").toString
    // CIFAR-100: two label granularities ride the same decoded scan
    val mkPng = udf { (id: Long) =>
      ImageOps.encodePng(Frame(4, 4, 3,
        Array.tabulate[Byte](4 * 4 * 3)(j => ((id * 31 + j * 7) % 256).toByte)))
    }
    val c100 = s"$base/cifar100"
    graft.sources.SplitSource.write(
      spark.range(24).select(col("id").as("idx"), mkPng(col("id")).as("features"),
        (col("id") % 20).cast("int").as("coarse_label"),
        (col("id") % 100).cast("int").as("fine_label"),
        when(col("id") < 18, "train").otherwise("test").as("split")), c100)
    val cat = new graft.sources.Catalog(spark).registerCifar100(c100)
    val out = cat.defaultStream("cifar100-mini/train")
    val r = out.filter(col("idx") === 5)
      .select("features", "coarse_label", "fine_label").head()
    assert(math.abs(r.getSeq[Float](0)(10) - 225f / 255f) < 1e-6) // decoded
    assert(r.getInt(1) == 5 && r.getInt(2) == 5) // labels untouched
    assert(cat.defaultStream("cifar100-mini/test").count() == 6)
    // BinarizedMNIST: {0,1} pixels, train/valid/TEST triple, EMPTY chain
    val bm = s"$base/binarized_mnist"
    graft.sources.SplitSource.write(
      spark.range(30).select(col("id").as("idx"),
        expr("transform(sequence(0, 15), j -> CAST((id + j) % 2 AS INT))").as("features"),
        when(col("id") < 20, "train").when(col("id") < 25, "valid")
          .otherwise("test").as("split")), bm)
    val cat2 = new graft.sources.Catalog(spark).registerBinarizedMnist(bm)
    assert(Seq("train", "valid", "test").forall(s =>
      cat2.names.contains(s"binarized-mnist-mini/$s")))
    val btr = cat2.defaultStream("binarized-mnist-mini/valid")
    assert(btr.schema == cat2.load("binarized-mnist-mini/valid").schema) // identity
    assert(btr.count() == 5)
    // Caltech101Silhouettes: the size parameter picks the filename
    Seq(16, 28).foreach { sz =>
      graft.sources.SplitSource.write(
        spark.range(6).select(col("id").as("idx"),
          lit(sz).as("size_tag"), lit("train").as("split")),
        s"$base/caltech/caltech101_silhouettes$sz")
    }
    val cat3 = new graft.sources.Catalog(spark)
      .registerCaltech101Silhouettes(s"$base/caltech")
      .registerCaltech101Silhouettes(s"$base/caltech", size = 16)
    assert(cat3.load("caltech101-silhouettes28-mini/train")
      .select("size_tag").head().getInt(0) == 28)
    assert(cat3.load("caltech101-silhouettes16-mini/train")
      .select("size_tag").head().getInt(0) == 16)
    intercept[IllegalArgumentException] {
      new graft.sources.Catalog(spark).registerCaltech101Silhouettes(base, size = 20)
    }
  }

  test("approximate aggregates: HLL distinct near exact, quantile sketch brackets exact") {
    // The sketch tier of the aggregation surface (SURVEY §2.6): at 100 TB
    // an exact distinct is a full shuffle of the keys; the HLL sketch is a
    // fixed-size partial-aggregable buffer. No DuckDB oracle (sketches are
    // engine-specific), so the contract checked is the error bound.
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val r = li.agg(
      approx_count_distinct("l_partkey", rsd = 0.05).as("approx"),
      countDistinct("l_partkey").as("exact")).head()
    val (a, e) = (r.getLong(0), r.getLong(1))
    assert(math.abs(a - e).toDouble / e < 0.15, s"HLL estimate $a too far from exact $e")
    val Array(med) = li.stat.approxQuantile("l_quantity", Array(0.5), 0.01)
    val below = li.filter(col("l_quantity") <= med).count()
    assert(below >= li.count() * 2 / 5 && below <= li.count() * 3 / 5,
      s"approx median $med does not bracket the distribution")
  }
}
