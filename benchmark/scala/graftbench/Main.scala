package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of a workload. `fields` holds its timings (ms) and
  * counts; `ok` is false when it threw or its correctness check failed. */
final case class Op(index: Int, kind: String, traced: Boolean, ok: Boolean,
    fields: Map[String, Double], error: String = "")

/** A correctness check made outside the timed region. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A closed-loop workload with one client. */
trait Workload {
  /** Load the inputs (and build whatever the workload serves from). */
  def setup(spark: SparkSession): Unit
  /** Run operation `i` and return its record. */
  def op(spark: SparkSession, i: Int): Op
  /** Run-level checks, made after the timed loop. */
  def checks(spark: SparkSession): Seq[Check]
  /** Untimed operations that warm the JVM before timing starts. */
  def warmupOps: Int = 1
  /** Timed operations made even when the run's seconds are up. */
  def minOps: Int = 3
  /** Untimed checks of the set-up, such as recall of a built index; run
    * before the timed loop. */
  def afterSetup(spark: SparkSession): Unit = ()
  /** Values that depend on the seed alone, such as recall; a later run
    * with the same seed must reproduce them exactly. */
  def repeatable: Map[String, Any] = Map.empty
  /** Other values for the record. */
  def extra: Map[String, Any] = Map.empty
}

/** Benchmark main: sets up a workload several times, warms it, runs it
  * for the requested seconds as a closed loop with one client, checks it,
  * and writes one raw JSON record that `run.py` turns into metrics.
  *
  * Usage: graftbench.Main <workload> <dataDir> <workDir> <seed> <seconds>
  * <trace 0|1> <cpus> <out.json>
  */
object Main {
  // the first set-up pays the JVM's warm-up; the median of three is a warm one
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val Array(name, data, work, seedS, secondsS, traceS, cpusS, out) = args
    val seed = seedS.toLong
    val runId = s"$name-$seed-${ProcessHandle.current().pid()}"
    val traced = traceS == "1"
    val master = s"local[$cpusS]"
    val wl: Workload = name match {
      case "train_stream"  => new TrainStream(data, seed)
      case "curate_corpus" => new CurateCorpus(data)
      case "ann_index"     => new AnnIndex(data, work, seed)
      case "query_mix"     => new QueryMix(data)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val recorders = mutable.ArrayBuffer[JobRecorder]()
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (k <- 0 until Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.Graft.session(master, "graftbench")
      if (traced) {
        val r = new JobRecorder
        recorders += r
        Trace.attach(spark.sparkContext, r)
        Trace.enabled = true
      }
      Trace.op = -1 - k
      wl.setup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
      Trace.enabled = false
    }
    wl.afterSetup(spark)

    val ops = mutable.ArrayBuffer[Op]()
    val cache = mutable.ArrayBuffer[(Int, Int, Long)]()
    def runOp(i: Int): Op = {
      // in a traced run every other operation runs untraced, so that the
      // tracing overhead is measured inside one process
      Trace.enabled = traced && i % 2 == 0
      Trace.op = i
      val o = try wl.op(spark, i) catch {
        case e: Exception =>
          Op(i, "error", Trace.enabled, ok = false, Map.empty, e.toString.take(500))
      }
      Trace.enabled = false
      val sc = spark.sparkContext
      cache += ((i, sc.getPersistentRDDs.size,
        sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum))
      spark.catalog.clearCache()
      o
    }
    val warmup = (0 until wl.warmupOps).map(runOp)
    val deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
    var i = wl.warmupOps
    while (System.nanoTime() < deadline || i < wl.warmupOps + wl.minOps) {
      ops += runOp(i)
      i += 1
    }
    Trace.enabled = false
    val checks = wl.checks(spark)
    val rss = peakRssKb()
    spark.stop()

    val rec = Json.obj(
      "run" -> runId, "workload" -> name, "seed" -> seed, "traced" -> traced, "master" -> master,
      "setup_s" -> setupS.toSeq,
      "warmup" -> warmup.map(opJson),
      "ops" -> ops.toSeq.map(opJson),
      "checks" -> checks.map(c => Json.obj("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)),
      "repeatable" -> wl.repeatable,
      "extra" -> wl.extra,
      "cache" -> cache.toSeq.map { case (op, n, b) =>
        Json.obj("op" -> op, "rdds" -> n, "bytes" -> b) },
      "peak_rss_kb" -> rss,
      "spans" -> Trace.spans.toSeq.map(s => Json.obj("run" -> runId, "id" -> s.id,
        "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "op" -> s.op)),
      "jobs" -> recorders.toSeq.zipWithIndex.flatMap { case (r, ctx) =>
        r.jobs.values.toSeq.map(j => Json.obj("ctx" -> ctx, "id" -> j.id,
          "span" -> j.span, "site" -> j.site,
          "submit_ns" -> j.submitNs, "end_ns" -> j.endNs, "stages" -> j.stages,
          "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
          "gc_ms" -> j.gcMs, "shuffle_read" -> j.shuffleRead,
          "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
          "input" -> j.input, "output" -> j.output,
          "peak_exec_mem" -> j.peakExecMem))
      })
    Files.write(Paths.get(out), rec.text.getBytes(StandardCharsets.UTF_8))
  }

  private def opJson(o: Op): Json.Raw = Json.obj("i" -> o.index, "kind" -> o.kind,
    "traced" -> o.traced, "ok" -> o.ok, "error" -> o.error, "fields" -> o.fields)

  /** The process's peak resident set (VmHWM), in KiB; 0 where unavailable. */
  def peakRssKb(): Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case _: java.io.IOException => 0L }

  /** Milliseconds taken by `body`, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** The benchmark's own execution action: run the whole plan, keep nothing. */
  def writeNoop(df: DataFrame): Unit =
    Trace.span("exec", "write.noop") {
      df.write.format("noop").mode("overwrite").save()
    }

  /** Force physical planning, as its own phase. */
  def plan(df: DataFrame): Unit =
    Trace.span("plans", "executedPlan") { df.queryExecution.executedPlan; () }
}

/** Minimal JSON encoding for the raw record. */
object Json {
  /** An already encoded JSON value. */
  final case class Raw(text: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${enc(v)}" }.mkString("{", ",", "}"))

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def enc(v: Any): String = v match {
    case Raw(text) => text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${enc(x)}" }
      .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(enc).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
}
