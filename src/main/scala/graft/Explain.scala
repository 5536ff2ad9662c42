package graft

/** Plan-inspection CLI: print the executed plan of named queries (all
  * when none named) against an sf dir — the `.explain("formatted")`
  * loop the engine's performance discipline is built on, packaged so a
  * plan review never needs an ad-hoc REPL session.
  *
  * Usage: `runMain graft.Explain <sfDir> [q1,q2,...] [formatted|simple]`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1 && args(1).nonEmpty) args(1).split(',').toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val mode = if (args.length > 2) args(2) else "formatted"
    val spark = Graft.session(appName = "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n")
      SparkEntry.queries(n)(spark, sfDir).explain(mode)
    }
    spark.stop()
  }
}
