package graft

import org.apache.spark.sql.functions._

import graft.image.ImageOps

/** Ingest-job CLI — the `fuel-convert` analog (reference:
  * fuel/bin/fuel_convert.py:24, fuel/converters/base.py:13-47: one-time
  * raw-input → storage-format ETL). Two converters:
  *
  *   images: PNG/JPEG files → parquet of decoded frames
  *           `runMain graft.Convert images <inGlob> <outDir>`
  *   text:   line files → parquet of (file, line_no, line)
  *           `runMain graft.Convert text <inGlob> <outDir>`
  *   audio:  WAV files → parquet of decoded clips (the YouTubeAudio
  *           converter analog, fuel/converters/youtube_audio.py)
  *           `runMain graft.Convert audio <inGlob> <outDir>`
  *   video:  clips → parquet of evenly-sampled RGB24 frames via one
  *           executor-side ffmpeg-CLI subprocess per clip
  *           ([[graft.image.Ffmpeg]] — the converter-edge codec tier,
  *           64×64 scaled); when ffmpeg is absent, falls back to the
  *           pure-JVM uncompressed-AVI decoder ([[graft.image.RawAvi]],
  *           native geometry), warns, and stamps every output row with a
  *           `codec` column so the kernel/geometry divergence is
  *           machine-checkable downstream
  *           `runMain graft.Convert video <inGlob> <outDir>`
  *   tar:    tar(.gz) archives → parquet of (archive, entry, n_bytes,
  *           content) rows, inner tars expanded one level — the
  *           ILSVRC tar-of-tars ingest ([[graft.sources.Archive]],
  *           fuel/converters/ilsvrc2010.py:204-316)
  *           `runMain graft.Convert tar <inGlob> <outDir>`
  *
  * All are distributed jobs (binaryFile/text scans + columnar projection),
  * not driver-side loops — the Spark-native shape of the reference's
  * producer/consumer converter pipelines (ilsvrc2010.py:204-316).
  */
object Convert {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Convert <images|text|audio|video|tar> <inGlob> <outDir>")
    val Array(kind, inGlob, outDir) = args
    val spark = Graft.session(appName = "graft-convert")
    kind match {
      case "images" =>
        spark.read.format("binaryFile").load(inGlob)
          .select(col("path"), ImageOps.imagesFromBytes(col("content")).as("frame"))
          .filter(col("frame").isNotNull) // skip undecodable files, keep going
          .write.mode("overwrite").parquet(outDir)
      case "text" =>
        graft.sources.TextFileSource.lines(spark, Seq(inGlob))
          .write.mode("overwrite").parquet(outDir)
      case "audio" =>
        spark.read.format("binaryFile").load(inGlob)
          .select(col("path"), graft.image.AudioOps.decodeWav(col("content")).as("clip"))
          .filter(col("clip").isNotNull) // skip undecodable files, keep going
          .write.mode("overwrite").parquet(outDir)
      case "video" =>
        // Kernel selection: the ffmpeg CLI when runnable (any container,
        // scaled to the 64x64 ingest geometry); otherwise the pure-JVM
        // rawvideo decoder (uncompressed AVI only, NATIVE geometry — that
        // path ships no scaler, see [[graft.image.RawAvi]]). The two
        // kernels are bit-identical on uncompressed AVI at identity scale
        // (VideoSpec cross-checks them whenever a real ffmpeg exists).
        val binary = sys.env.getOrElse("SPARK_GRAFT_FFMPEG", "ffmpeg")
        val (sampled, kernel) =
          if (graft.image.Ffmpeg.available(binary))
            (graft.image.Ffmpeg.sampleFramesCli(col("content"),
              n = 8, w = 64, h = 64, binary), "ffmpeg-scaled-64x64")
          else {
            System.err.println(s"WARN Convert: '$binary' not runnable — " +
              "falling back to the pure-JVM rawvideo decoder (uncompressed " +
              "AVI only, native geometry)")
            (graft.image.RawAvi.sampleFramesJvm(col("content"), n = 8),
              "jvm-rawvideo-native")
          }
        // Record which kernel produced each row: the two paths differ in
        // output geometry (scaled 64x64 vs native), so the divergence must
        // be machine-checkable in the data itself, not stderr-only —
        // downstream jobs can assert codec='ffmpeg-scaled-64x64' (or group
        // by it) instead of trusting that every ingest box had ffmpeg.
        spark.read.format("binaryFile").load(inGlob)
          .select(col("path"), posexplode(sampled).as(Seq("k", "sampled")))
          .select(col("path"), col("sampled._1").as("frame_idx"),
            col("sampled._2").as("frame"), lit(kernel).as("codec"))
          .write.mode("overwrite").parquet(outDir)
      case "tar" =>
        graft.sources.Archive.tarEntries(spark, inGlob)
          .write.mode("overwrite").parquet(outDir)
      case other =>
        throw new IllegalArgumentException(s"unknown converter '$other' (images|text|audio|video|tar)")
    }
    val n = spark.read.parquet(outDir).count()
    println(s"""{"converted": $n, "kind": "$kind", "out": "$outDir"}""")
    spark.stop()
  }
}
