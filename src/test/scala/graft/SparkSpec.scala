package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). */
object SparkSpec {
  lazy val spark: SparkSession = Graft.session(master = "local[4]", appName = "graft-test")
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  /** Every message in `t`'s cause chain: an in-plan `raise_error` reaches
    * the driver wrapped in the job's failure. */
  def messageChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  /** `body`'s result and the Spark jobs it started, in start order. The
    * jobs carry a local property set around `body` (Spark SQL hands the
    * caller's local properties to the threads it runs jobs from), so a
    * stray job still starting from an earlier failed action is not
    * counted. A marker job after `body` flushes the listener: it sees job
    * starts in order. */
  def jobStarts[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val tag = "graft.spec.jobs"
    val token = java.util.UUID.randomUUID().toString
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)).orNull match {
          case `token` => jobs.add(e)
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
      (result, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
