package graft

import graft.sources.{Catalog, Tables}

/** Dataset metadata dump — the `fuel-info` CLI analog (reference:
  * fuel/bin/fuel_info.py:22). Usage: `runMain graft.Info <sfDir> [table]`. */
object Info {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Graft.session(appName = "graft-info")
    val cat = Catalog.forTestData(spark, sfDir)
    val which = if (args.length > 1) Seq(args(1)) else Tables.all
    which.foreach { name =>
      val df = cat.load(name)
      println(s"== $name (${df.count()} rows) order=${cat.order(name).mkString(",")}")
      df.schema.fields.foreach(f => println(f"   ${f.name}%-20s ${f.dataType.simpleString}"))
    }
    spark.stop()
  }
}
