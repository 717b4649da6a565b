package graft

import org.apache.spark.sql.SparkSession

/** The one way a main starts Spark: a fresh `local[cores]` session
  * with the invariants every entry point shares — adaptive execution
  * on, session time zone UTC (date keys and COPY timestamps must not
  * follow the JVM's zone), no UI. */
object LocalSpark {

  /** The cores a bench or dev main runs on: `SPARK_GRAFT_CPUS`, else
    * the processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors())(_.trim.toInt)

  /** Starts the session. Refuses when a session is already active or
    * default: `getOrCreate` would hand that session back and apply
    * these confs to it, re-configuring its host (a test suite's shared
    * session, say). */
  def session(app: String, cores: Int, shufflePartitions: Int,
      logLevel: String = "WARN"): SparkSession = {
    require(SparkSession.getActiveSession.isEmpty &&
      SparkSession.getDefaultSession.isEmpty,
      s"$app: a Spark session is already running; a main starts its " +
        "own and never re-configures another")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
