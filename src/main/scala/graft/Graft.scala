package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-aware defaults.
  *
  * The engine is designed for a large multi-executor cluster but tested on a
  * local master. Everything scale-relevant is expressed through the plan
  * (partitioning columns, broadcast hints, AQE) rather than hard-coded
  * parallelism, so the same code runs unchanged on a 1000-executor cluster.
  */
object Graft {
  /** Default shuffle parallelism for local runs; on a real cluster this is
    * overridden by AQE coalescing (`spark.sql.adaptive.coalescePartitions`). */
  val LocalShufflePartitions = 32

  /** The one place a `SparkSession` is built: tests, the CLI mains and
    * the benchmark harness all share these extensions and confs. The
    * default master is sized by `SPARK_GRAFT_CPUS` (`local[4]` if unset). */
  def session(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", LocalShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // full config cascade (see configValue): conf > env > rc > default.
    configValue(spark, "floatX").foreach(setFloatX)
    spark
  }

  /** fuel's four-layer config cascade (fuel/config_parser.py:127-213:
    * in-code value > environment variable > `~/.fuelrc` YAML > default)
    * re-expressed for Spark: the Spark conf `spark.graft.<key>` is the
    * in-code layer (set via builder/`spark.conf.set`, cluster-deployable
    * through --conf), then env `GRAFT_<KEY>`, then the rc properties
    * file (`$GRAFTRC`, defaulting to `~/.graftrc`, java-properties
    * `key=value` lines), then `default`. Layers are per-key, exactly like
    * fuel's: an rc file can set floatX while the conf overrides only
    * maxBlock. `rc` is injectable for tests; production callers take the
    * default (the file is read once per JVM). */
  def configValue(spark: SparkSession, key: String,
      default: Option[String] = None,
      rc: java.util.Properties = rcProperties): Option[String] =
    spark.conf.getOption(s"spark.graft.$key")
      .orElse(sys.env.get("GRAFT_" + key.toUpperCase))
      .orElse(Option(rc.getProperty(key)))
      .orElse(default)

  /** The rc file location: `$GRAFTRC` > `~/.graftrc` (fuel's
    * FUEL_CONFIG > ~/.fuelrc resolution, config_parser.py:130-134). */
  private[graft] def rcPath: java.nio.file.Path =
    java.nio.file.Paths.get(sys.env.getOrElse("GRAFTRC",
      sys.props.getOrElse("user.home", ".") + "/.graftrc"))

  /** Load an rc properties file; absent file = empty layer (fuel skips a
    * missing ~/.fuelrc the same way). */
  private[graft] def loadRc(path: java.nio.file.Path): java.util.Properties = {
    val p = new java.util.Properties()
    if (java.nio.file.Files.isRegularFile(path)) {
      val in = java.nio.file.Files.newBufferedReader(path)
      try p.load(in) finally in.close()
    }
    p
  }

  private lazy val rcProperties: java.util.Properties = loadRc(rcPath)

  /** fuel's `floatX` config (reference: fuel/config_parser.py:49-52,211):
    * the engine-wide float width used by `ForceFloatX`/`Cast("floatX")`.
    * Settable in code or via the `spark.graft.floatX` conf. */
  @volatile var floatX: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.FloatType

  def setFloatX(name: String): Unit = floatX = name match {
    case "float32" => org.apache.spark.sql.types.FloatType
    case "float64" => org.apache.spark.sql.types.DoubleType
    case other => throw new IllegalArgumentException(
      s"spark.graft.floatX must be float32 or float64, got $other")
  }
}
