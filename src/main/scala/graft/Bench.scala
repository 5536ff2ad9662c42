package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Benchmark main. Per-round driver contract: one JSON line
  * `{"metric":...,"queries":{...}}` on stdout; also written to
  * BENCH_LOCAL.json so log noise can't corrupt the parse.
  *
  * Methodology (VERDICT r1 #5, r5 #2): a full warm-up pass first (absorbs
  * session init, codegen, parquet footer reads), then each query timed
  * executing its COMPLETE pipeline via the noop sink (no `.count()`
  * projection pruning). Each query is timed in TWO separate full passes over
  * the whole suite and the MINIMUM is reported, so one burst of machine
  * contention during a pass cannot poison the round's record (the r5 driver
  * run regressed unchanged audit-clean plans 2.6-2.8x this way). Pass count
  * is overridable via SPARK_GRAFT_BENCH_PASSES. A failing query aborts the
  * bench loudly instead of "benching" at -1.
  */
object Bench {
  private def runFull(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Box state snapshot — 1-min load average and MemAvailable (MB) from
    * /proc. Both the r5 and r9 round-over-round "regressions" were
    * adjudicated (via worktree A/B reruns) as machine contention, each
    * costing a multi-run investigation; recording the environment IN the
    * artifact lets future ratio anomalies carry their own context
    * (VERDICT r9 #7). Returns compact JSON; "?" fields off-Linux. */
  private def boxState(): String = {
    def readOr(p: String, default: String): String =
      try Files.readString(Paths.get(p)) catch { case _: Exception => default }
    val load = readOr("/proc/loadavg", "?").split(' ').headOption.getOrElse("?")
    val memMb = readOr("/proc/meminfo", "").linesIterator
      .find(_.startsWith("MemAvailable:"))
      .map(_.split("\\s+")(1).toLong / 1024).map(_.toString).getOrElse("?")
    s"""{"load":"$load","mem_avail_mb":"$memMb"}"""
  }

  /** Fixed calibration workload (VERDICT r11 #7): a pinned hash-agg over
    * spark.range — same size, same partition count, every run, every
    * box — timed at bench start so each record carries a SAME-PROCESS
    * normalizer. The r5/r9/r11 "regression" adjudications all concluded
    * environment drift between record epochs; this number lets the next
    * one be read off the artifact (record A calib 2.0s vs record B
    * calib 3.1s => the box got 1.5x slower, not the code). min of two
    * runs: the first absorbs codegen/init, which is not box speed. */
  private def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      // mask to a byte before the sum: 2e8 uniform 64-bit hashes would
      // overflow the long sum under ANSI mode (the hash is the workload,
      // the sum just forces it to execute)
      spark.range(0, 200000000L, 1, 8)
        .selectExpr("xxhash64(id) & 255 AS h")
        .agg(org.apache.spark.sql.functions.sum("h")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    math.min(once(), once())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt.max(1)
    val spark = Graft.session(appName = "graft-bench")

    // Dev loop only: SPARK_GRAFT_BENCH_ONLY=q98,q99 times a subset. The
    // driver never sets it and gets the full suite.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    // Scale probes only: SPARK_GRAFT_BENCH_EXCLUDE=q134,... drops named
    // queries and RECORDS the exclusion in the output (no silent caps) —
    // the sf10 probe leaves out the deliberately-exact quadratic tiers
    // whose runtime guards are the documented scale answer, while their
    // banded twins stay in-suite. Unknown names fail loudly. Like a
    // subset run, an exclude run never overwrites BENCH_LOCAL.json.
    val excluded = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
      .map(_.split(',').toSet).getOrElse(Set.empty[String])
    val unknownExcluded = excluded -- SparkEntry.queries.keySet
    require(unknownExcluded.isEmpty,
      s"SPARK_GRAFT_BENCH_EXCLUDE names unknown queries: ${unknownExcluded.mkString(",")}")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n))).filterNot(excluded)
    val envStart = boxState()
    val calibSec = calibrate(spark)
    // Per-query progress on stderr (never stdout — the driver parses
    // stdout's JSON tail): at probe scales a failure 100 minutes in
    // (the sf10 disk-spill abort) is unattributable without a marker
    // naming the query that was executing. Elapsed rides along so a
    // live `grep BENCHQ` shows where the wall time is going.
    def logQ(phase: String, n: String, sec: Double): Unit =
      System.err.println(
        f"BENCHQ $phase $n ${sec}%.2f s ${boxState()}")
    // Warm-up: run everything once, untimed.
    names.foreach { n =>
      val t0 = System.nanoTime()
      runFull(SparkEntry.queries(n)(spark, sfDir))
      logQ("warmup", n, (System.nanoTime() - t0) / 1e9)
    }
    // Timed passes. Queries that persist() intermediates (q28) would
    // otherwise read a previous pass's cache — clear it so each timing is a
    // cold full run. min-of-N per query: contention inflates, never deflates,
    // so the min is the least-contended (most reproducible) measurement.
    def timedPass(): Map[String, Double] = names.map { n =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      runFull(SparkEntry.queries(n)(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      logQ("timed", n, sec)
      n -> sec
    }.toMap
    // The PREVIOUS run's full per-query detail (committed BENCH_LOCAL.json)
    // — read BEFORE this run overwrites it, so the round-over-round ratio
    // on the shared query subset is computed by the bench itself, not
    // hand-assembled from truncated driver artifacts (VERDICT r8 #8).
    // The parse is strict (ADVICE r9): every comma-separated entry must be
    // exactly `"name":d.ddd` and the count must match. On ANY drift the
    // whole map is dropped with a loud stderr warning — shared_prev then
    // reports n:0 instead of a silently-partial (and therefore skewed)
    // round-over-round ratio, and the bench itself still completes.
    val prevRecordTxt: Option[String] = {
      val p = Paths.get("BENCH_LOCAL.json")
      if (Files.exists(p)) Some(Files.readString(p)) else None
    }
    // The previous record's calibration number — the input to the
    // certification gate below (VERDICT r13 #3).
    val prevCalib: Option[Double] = prevRecordTxt.flatMap { txt =>
      "\"calib_sec\":(-?[0-9]+\\.[0-9]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble)
    }
    val prevQueries: Map[String, Double] = {
      prevRecordTxt match {
        case None => Map.empty
        case Some(txt) =>
        val body = txt.indexOf("\"queries\":{")
        if (body < 0) Map.empty
        else {
          val sub = txt.substring(body + 11, txt.indexOf('}', body))
          val entryRe = "^\"([^\"]+)\":(-?[0-9]+\\.[0-9]+)$".r
          val entries = sub.split(',').map {
            case entryRe(k, v) => Some(k -> v.toDouble)
            case bad =>
              System.err.println(
                s"WARN Bench: BENCH_LOCAL.json queries entry '$bad' does not " +
                  "match \"name\":d.ddd — format drift; dropping the previous " +
                  "record entirely (shared_prev will report n:0)")
              None
          }
          if (entries.contains(None)) Map.empty
          else entries.flatten.toMap
        }
      }
    }
    val allPasses = (1 to passes).map(_ => timedPass())
    val results = names.map(n => n -> allPasses.map(_(n)).min)
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val shared = results.filter { case (n, _) => prevQueries.contains(n) }
    val sharedPrev =
      if (shared.isEmpty) """{"n":0}"""
      else {
        val cur = shared.map(_._2).sum
        val prev = shared.map { case (n, _) => prevQueries(n) }.sum
        s"""{"n":${shared.size},"prev_total":${fmt(prev)},"cur_total":${fmt(cur)},"ratio":${fmt(cur / prev)}}"""
      }
    // r7 postmortem: 186 per-query timings made the single JSON line longer
    // than the driver's tail-capture window, truncating it mid-object
    // ("parsed": null). The full detail now goes FIRST (stdout + file, where
    // truncation is harmless) and the LAST line is a compact summary —
    // bounded at the 10 slowest queries, well under 1 kB at any future query
    // count — so the tail window always ends on a parseable object.
    // Record-certification calibration gate (VERDICT r13 #3): a box
    // running >1.25x slower per core than the previous record's epoch
    // (r13: calib 0.437 vs 0.288) must not become the baseline the next
    // round is judged against — that is machine state, not code. The
    // run still completes and prints its record (the driver parses
    // stdout), but BENCH_LOCAL.json keeps the previous epoch; the
    // uncertified record lands in BENCH_LOCAL_LOADED.json for the
    // adjudication trail. SPARK_GRAFT_CALIB_OVERRIDE=1 certifies anyway
    // (the escape hatch for a genuine hardware change).
    val calibOk = prevCalib.forall(pc => calibSec <= pc * 1.25) ||
      sys.env.contains("SPARK_GRAFT_CALIB_OVERRIDE")
    val calibGate = prevCalib match {
      case Some(pc) =>
        s""","calib_gate":{"prev":${fmt(pc)},"cur":${fmt(calibSec)},"certified":$calibOk}"""
      case None => ""
    }
    val env = s"""{"start":$envStart,"end":${boxState()},"calib_sec":${fmt(calibSec)}}"""
    val exJson =
      if (excluded.isEmpty) ""
      else excluded.toSeq.sorted.map("\"" + _ + "\"")
        .mkString(""","excluded":[""", ",", "]")
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"shared_prev":$sharedPrev$exJson$calibGate,"env":$env,"sf":"$sfDir"}"""
    // Subset/exclude runs must not overwrite the committed full-suite
    // baseline the next round's ratio is computed from.
    if (only.isEmpty && excluded.isEmpty) {
      if (calibOk)
        Files.writeString(Paths.get("BENCH_LOCAL.json"), full + "\n")
      else {
        Files.writeString(Paths.get("BENCH_LOCAL_LOADED.json"), full + "\n")
        System.err.println(
          f"WARN Bench: calibration gate REFUSED record certification — " +
            f"calib ${calibSec}%.3f s vs previous record's " +
            f"${prevCalib.getOrElse(0.0)}%.3f s (>1.25x): this box is " +
            "slower per core than the record epoch, so the numbers are " +
            "machine state, not code. Record written to " +
            "BENCH_LOCAL_LOADED.json; BENCH_LOCAL.json keeps the previous " +
            "epoch. Set SPARK_GRAFT_CALIB_OVERRIDE=1 to certify anyway.")
      }
    }
    println(full)
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // "truncated":true marks this line as the bounded summary — its
    // queries map holds only the 10 slowest, so a consumer can never
    // mistake it for the full per-query set (that shape-identity was an
    // r8 advice finding). The full set is the detail line above and
    // BENCH_LOCAL.json, which carry no truncated marker.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${names.size},"truncated":true,"queries":$slowest,"shared_prev":$sharedPrev$exJson,"env":$env,"sf":"$sfDir"}""")
    spark.stop()
  }
}
