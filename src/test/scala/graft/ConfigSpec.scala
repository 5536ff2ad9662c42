package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The four-layer config cascade ([[Graft.configValue]] — fuel's
  * config_parser re-expressed): conf > env > rc file > default, per key.
  * The env layer is process-global and so exercised implicitly (an unset
  * `GRAFT_*` var falls through); the other three layers are pinned here.
  * Also pins that every entry point shares [[Graft.session]]'s config,
  * how it sizes shuffles from the master's threads, that sessions share
  * one executor classloader (so generated code compiles once), that
  * [[graft.sources.Store]] alone lays out persisted stores, that only
  * the Spark bridge declares a plan's order over an RDD, that no
  * builder probes a row bound eagerly, and that admission staging and
  * the bucket occupancy guard are each written once.
  */
class ConfigSpec extends SparkSpec {

  test("config cascade: conf > rc > default, resolved per key") {
    val rc = Files.createTempFile("graftrc", ".properties")
    Files.write(rc, "floatX=float64\nmaxBlock=123\n".getBytes("UTF-8"))
    val props = Graft.loadRc(rc)
    // rc layer read (java-properties key=value lines)
    assert(Graft.configValue(spark, "maxBlock", None, props).contains("123"))
    // default fills an absent key; absent everywhere = None
    assert(Graft.configValue(spark, "nope", Some("d"), props).contains("d"))
    assert(Graft.configValue(spark, "nope", None, props).isEmpty)
    // the conf layer (in-code) wins over the rc layer for ITS key only
    spark.conf.set("spark.graft.floatX", "float32")
    try {
      assert(Graft.configValue(spark, "floatX", None, props).contains("float32"))
      assert(Graft.configValue(spark, "maxBlock", None, props).contains("123"))
    } finally spark.conf.unset("spark.graft.floatX")
    // with the conf unset the rc layer shows through again
    assert(Graft.configValue(spark, "floatX", None, props).contains("float64"))
    // a missing rc file is an empty layer, not an error (fuel skips a
    // missing ~/.fuelrc identically)
    assert(Graft.loadRc(Paths.get("/definitely/not/graftrc")).isEmpty)
  }

  test("local masters get 2 shuffle partitions per core; SPARK_GRAFT_CPUS must be a positive integer or *") {
    val cores = Runtime.getRuntime.availableProcessors
    // threads count up to the cores; more threads than cores add none
    for ((master, threads) <- Seq("local" -> 1, "local[3]" -> 3,
        "local[3,2]" -> 3, "local[*]" -> cores, s"local[${8 * cores}]" -> cores))
      assert(Graft.shufflePartitions(master).contains(2 * math.min(threads, cores)), master)
    // any other master keeps the deployment's own setting
    assert(Graft.shufflePartitions("spark://host:7077").isEmpty)
    // the shared session (local[4]) and a session forked from it
    val shared = (2 * math.min(4, cores)).toString
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shared)
    assert(spark.newSession().conf.get("spark.sql.shuffle.partitions") == shared)

    assert(Graft.localMaster(None) == "local[4]")
    assert(Graft.localMaster(Some("3")) == "local[3]")
    assert(Graft.localMaster(Some("*")) == "local[*]")
    for (bad <- Seq("", "0", "four", "-2", "**")) {
      val e = intercept[IllegalArgumentException](Graft.localMaster(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("sessions and their forks share one executor classloader and a 500-entry codegen cache") {
    // Spark's codegen cache is keyed on (task context classloader, source):
    // a loader per session, or per persist's session clone, recompiles
    // every generated class per pass.
    val forked = spark.newSession()
    for (s <- Seq(spark, forked)) {
      assert(s.conf.get("spark.sql.artifact.isolation.enabled") == "false")
      assert(s.conf.get("spark.sql.codegen.cache.maxEntries") == "500")
    }
    def taskLoader(s: SparkSession): Int = {
      import s.implicits._
      s.range(1).map(_ => System.identityHashCode(Thread.currentThread.getContextClassLoader))
        .head()
    }
    assert(taskLoader(forked) == taskLoader(spark),
      "a forked session's tasks run under a classloader of their own")
  }

  test("Graft.session is the only place a SparkSession is built") {
    // Tolerates whitespace and newlines around the dot, so a wrapped
    // builder chain is caught too.
    val builder = """SparkSession\s*\.\s*builder""".r
    val builders = scalaFiles("src/main", "src/test")
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString).toSet
    assert(builders == Set("src/main/scala/graft/Graft.scala"))
  }

  test("graft.sources.Store is the only place in src/main that lays out a store") {
    // Bucket specs and partition landings live in Store.write/Store.land;
    // a module that spells either out itself has forked the layout.
    val sources = scalaFiles("src/main")
    for (needle <- Seq(".bucketBy(", "INSERT OVERWRITE")) {
      val found = sources.filter(p => Files.readString(p).contains(needle))
        .map(_.toString).toSet
      assert(found == Set("src/main/scala/graft/sources/Store.scala"),
        s"'$needle' outside Store.scala: $found")
    }
  }

  test("Bridge is the only place in src/main that declares a plan's order over an RDD") {
    // A LogicalRDD declares an ordering and partitioning the planner
    // trusts without checking; Bridge.orderedDataFrame, the one rebuild
    // call, makes that declaration only for PrefixSum's scan outputs,
    // which hold it by construction.
    val found = scalaFiles("src/main")
      .filter(p => Files.readString(p).contains("LogicalRDD("))
      .map(_.toString).toSet
    assert(found == Set("src/main/scala/org/apache/spark/sql/graft/Bridge.scala"),
      s"'LogicalRDD(' outside Bridge.scala: $found")
  }

  test("PrefixSum.scala holds the one ordered scan in src/main") {
    // Indices, running sums and running maxima are one two-phase scan; a
    // second module reading a plan's rows or numbering an RDD has forked
    // it. `zipWithIndex()` with parentheses is the RDD call — the
    // collections' `zipWithIndex` takes none.
    for (needle <- Seq("Bridge.internalRdd(", "zipWithIndex()")) {
      val found = scalaFiles("src/main")
        .filter(p => Files.readString(p).contains(needle))
        .map(_.toString).toSet
      assert(found.subsetOf(Set("src/main/scala/graft/sources/PrefixSum.scala")),
        s"'$needle' outside PrefixSum.scala: $found")
    }
  }

  test("no DataFrame builder in src/main probes a row bound with limit(...).count()") {
    // A row bound is checked inside the plan (Guards.atMost); an eager
    // probe runs a Spark job while the frame is built, and every planned
    // limit compiles fresh code. The argument may nest parentheses, as in
    // `limit((max + 1).toInt).count()`.
    val probe = """\.\s*limit\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)\s*\.\s*count\(\)""".r
    val found = scalaFiles("src/main").flatMap { p =>
      probe.findAllIn(Files.readString(p)).map(m => s"$p: $m")
    }
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("src/main holds one admission staging: the exact-cross anti-join appears once") {
    // Admission is one body over a signature family (graft.text.Admission);
    // a second exact-cross anti-join against the store is a copied body.
    val antiJoin = """\.join\(\s*store\.select\("xkey"\)\s*,[^\n]*"left_anti"\)""".r
    val found = scalaFiles("src/main").flatMap { p =>
      antiJoin.findAllIn(Files.readString(p)).map(m => s"$p: $m")
    }
    assert(found.size == 1, found.mkString("\n"))
  }

  test("the bucket occupancy window lives only in Guards.scala") {
    // A count window over the bucket keys that feeds raise_error is
    // Guards.occupancy; a module that writes its own has copied the guard.
    // A plain `count(...).as("__occ")` aggregate (Sketch's HLL) is not a
    // window and does not match.
    val window = """"__occ"[^\n]*\.over\(""".r
    val found = scalaFiles("src/main").filter { p =>
      val src = Files.readString(p)
      window.findFirstIn(src).isDefined && src.contains("raise_error")
    }.map(_.toString).toSet
    assert(found == Set("src/main/scala/graft/functions/Guards.scala"),
      s"occupancy window outside Guards.scala: $found")
  }

  test("src/main holds one ANN search body: the shortlist rerank join appears once") {
    // Every shortlisted top-k reranks through Ann.search's exactRerank; a
    // second copy of the rerank join is a copied search body.
    val rerank = """.join(broadcast(cand.select("query_id", "neighbor_id")), Seq("neighbor_id"))"""
    val found = sites(scalaFiles("src/main"), java.util.regex.Pattern.quote(rerank))
    assert(found.size == 1, found.mkString("\n"))
  }

  test("src/main holds one sign-LSH bucketing: SignBuckets( appears once outside its expression") {
    // The banded operators, cards and stores bucket through one helper in
    // Ann; a second SignBuckets call site is a copied bucketing.
    val found = sites(scalaFiles("src/main")
      .filterNot(_.toString == "src/main/scala/graft/functions/SignBuckets.scala"),
      """SignBuckets\(""")
    assert(found.size == 1, found.mkString("\n"))
  }

  /** One file name per match of `regex` in `files`. */
  private def sites(files: Seq[java.nio.file.Path], regex: String) =
    files.flatMap(p => regex.r.findAllIn(Files.readString(p)).map(_ => p.toString))

  private def scalaFiles(roots: String*) = roots.flatMap { root =>
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }
}
