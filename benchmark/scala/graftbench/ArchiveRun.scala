package graftbench

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Run once by the benchmark's build with `-XX:ArchiveClassesAtExit`: loads
  * the classes that starting a session and running small parquet, shuffle,
  * join, window and iterator jobs need, so that the archive dumped at exit
  * holds them. Touches no workload input.
  *
  * Usage: graftbench.ArchiveRun <workDir>
  */
object ArchiveRun {
  def main(args: Array[String]): Unit = {
    val Array(work) = args
    val spark = graft.Graft.session("local[2]", "graftbench-archive")
    val path = new java.io.File(work, "t.parquet").getAbsolutePath
    spark.range(0, 20000)
      .select(col("id"), (col("id") % 7).as("k"), (col("id") * 0.5).as("x"),
        array(col("id"), col("id") + 1).as("a"), concat(lit("w"), col("id")).as("s"))
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    df.groupBy("k").agg(sum("x"), count(lit(1)), collect_list("s")).collect()
    df.join(df.select(col("k"), col("id").as("id2")).limit(100), "k").count()
    df.withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
      .write.format("noop").mode("overwrite").save()
    df.orderBy(rand(1)).rdd.zipWithIndex().count()
    val it = df.toLocalIterator()
    while (it.hasNext) it.next()
    spark.stop()
  }
}
