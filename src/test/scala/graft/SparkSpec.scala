package graft

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
}
