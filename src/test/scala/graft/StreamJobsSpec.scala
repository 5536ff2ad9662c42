package graft

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.schemes._
import graft.sources.{Indexed, Tables}
import graft.stream.DataStream

/** The Spark jobs one epoch of a [[DataStream]] starts. An epoch pulls its
  * visit frame and cuts batches on the driver: a shuffled epoch is one
  * shuffle map stage (rows go to known hash ranges, with no sample job)
  * plus one fetch job per partition, with no prefix scan; an epoch in the
  * index's declared order is its fetch jobs alone. Shuffles stay
  * uncoalesced so the indexed frame keeps several partitions. */
class StreamJobsSpec extends SparkSpec {
  private val order = Seq(col("c_custkey"))

  private def coalescing[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, before)
  }

  private lazy val indexed: DataFrame = coalescing(on = false)(Indexed.withIdx(
    Tables.load(spark, sf, "customer").select("c_custkey", "c_name"), order))
  private lazy val n = indexed.count()
  private lazy val partitions = indexed.rdd.getNumPartitions

  /** A job's result stage: its name is the call site, `<method> at <File>:<line>`. */
  private def result(j: SparkListenerJobStart) = j.stageInfos.maxBy(_.stageId)

  /** The jobs that pulling all of epoch `epoch` starts (iterator included). */
  private def epochJobs(stream: DataStream, epoch: Int,
      coalesce: Boolean = false): Seq[SparkListenerJobStart] =
    coalescing(coalesce) {
      val (batches, jobs) = jobStarts(stream.epochIterator(epoch).toVector)
      assert(batches.map(_.size).sum == Schemes.numExamples(stream.scheme, n))
      jobs
    }

  private def sites(jobs: Seq[SparkListenerJobStart]): String =
    jobs.map(j => s"${result(j).name} (${result(j).numTasks} tasks)").mkString("\n")

  test("a shuffled epoch is a map stage and its fetches: no sample job, no prefix scan") {
    assert(partitions > 1, "the indexed frame must span several partitions")
    for (scheme <- Seq(ShuffledScheme(16, seed = 3), ShuffledExampleScheme(seed = 3));
        coalesce <- Seq(false, true)) {
      val jobs = epochJobs(DataStream(indexed, scheme, order), 1, coalesce)
      val what = s"$scheme, coalescing $coalesce:\n${sites(jobs)}"
      assert(!jobs.exists(result(_).name.contains("PrefixSum.scala")),
        s"a prefix scan ran in the epoch: $what")
      // the map stage, then one job per partition: all of them when
      // uncoalesced, at least one when adjacent ranges coalesce
      val (fetches, all) = (jobs.count(result(_).numTasks == 1), jobs.size)
      assert(all == fetches + 1, what)
      assert(if (coalesce) fetches >= 1 else fetches == partitions, what)
      // the map stage runs on adaptive execution's thread under the
      // pulling thread's call site
      assert(jobs.forall(result(_).details.contains("DataStream.scala")),
        s"a job names no DataStream.scala frame: $what\n" +
          jobs.map(result(_).details).mkString("\n--\n"))
    }
  }

  test("an epoch in declared index order starts only its fetch jobs") {
    for (scheme <- Seq(SequentialScheme(16), SequentialExampleScheme(),
        ConstantScheme(16, numExamples = Some(70)))) {
      val jobs = epochJobs(DataStream(indexed, scheme, order), 0)
      val fetches = jobs.count(result(_).numTasks == 1)
      val all = jobs.size
      assert(fetches == partitions && all == partitions, s"$scheme:\n${sites(jobs)}")
    }
  }

  test("a concatenated epoch starts its segments' jobs and no count") {
    def jobs(scheme: IterationScheme) = epochJobs(DataStream(indexed, scheme, order), 1)
    val concat = jobs(ConcatenatedScheme(Seq(SequentialScheme(16), ShuffledScheme(16, seed = 5))))
    val expected = jobs(SequentialScheme(16)).size + jobs(ShuffledScheme(16, seed = 5)).size
    val got = concat.size
    assert(got == expected, sites(concat))
  }

  test("a fresh stream's first epoch starts the jobs its later epochs start") {
    for (scheme <- Seq(ShuffledScheme(16, seed = 3), SequentialScheme(16))) {
      val fresh = DataStream(indexed, scheme, order)
      val first = epochJobs(fresh, 1)
      val later = epochJobs(fresh, 2)
      val (nFirst, nLater) = (first.size, later.size)
      assert(nFirst == nLater,
        s"$scheme: first call at epoch 1:\n${sites(first)}\nepoch 2:\n${sites(later)}")
      val nAgain = epochJobs(fresh, 1).size
      assert(nAgain == nLater, s"$scheme: epoch 1 again")
      val resumed = coalescing(on = false)(jobStarts(
        DataStream(indexed, scheme, order).resumeFrom(20, 1).toVector)._2)
      val nResumed = resumed.size
      assert(nResumed == nLater, s"$scheme: first call resumeFrom(20, 1):\n${sites(resumed)}")
    }
  }
}
