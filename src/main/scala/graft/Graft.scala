package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-aware defaults.
  *
  * The engine is designed for a large multi-executor cluster but tested on a
  * local master. Everything scale-relevant is expressed through the plan
  * (partitioning columns, broadcast hints, AQE) rather than hard-coded
  * parallelism, so the same code runs unchanged on a 1000-executor cluster.
  * The one sized conf, `spark.sql.shuffle.partitions`, follows README's
  * rule (2× total cores as the AQE ceiling) on a local master and is left
  * to the deployment everywhere else.
  */
object Graft {
  /** The one place a `SparkSession` is built: tests, the CLI mains and
    * the benchmark harness all share these extensions and confs. The
    * default master is sized by `SPARK_GRAFT_CPUS` (`local[4]` if unset).
    * A local master gets 2 shuffle partitions per core it runs on (its
    * threads, capped at the available processors); AQE coalesces below
    * that. */
  def session(
      master: String = localMaster(sys.env.get("SPARK_GRAFT_CPUS")),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(master)
      .appName(appName)
      .config(shufflePartitions(master).map("spark.sql.shuffle.partitions" -> _).toMap)
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

  /** `local[$cpus]`, or `local[4]` when `cpus` is unset; `*` gives
    * `local[*]`. */
  private[graft] def localMaster(cpus: Option[String]): String = cpus match {
    case None => "local[4]"
    case Some(n) =>
      require(n == "*" || n.forall(_.isDigit) && n.toIntOption.exists(_ > 0),
        s"SPARK_GRAFT_CPUS must be a positive integer or *, got '$n'")
      s"local[$n]"
  }

  private val LocalMaster = """local\[(\*|\d+)(?:\s*,\s*\d+)?\]""".r

  /** 2 × the cores a local master runs on: its threads (`local`,
    * `local[N]`, `local[N,F]`, `local[*]`, `local[*,F]`), capped at the
    * JVM's available processors, since threads beyond them only add
    * per-task overhead. `None` for any other master. */
  private[graft] def shufflePartitions(master: String): Option[Int] = {
    val cores = Runtime.getRuntime.availableProcessors
    (master match {
      case "local" => Some(1)
      case LocalMaster("*") => Some(cores)
      case LocalMaster(n) => Some(math.min(n.toInt, cores))
      case _ => None
    }).map(2 * _)
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
