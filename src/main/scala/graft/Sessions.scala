package graft

import org.apache.spark.sql.SparkSession

/** The one builder of local SparkSessions: every tool main and the test
  * suite take their session from here, so they agree on the settings
  * queries depend on — UTC session time zone (timestamp parsing and
  * bucketing), AQE on, and the `GraftExtensions` functions and rules.
  */
object Sessions {

  /** `local[cpus]` with `cpus` shuffle partitions, AQE on, UTC, no UI,
    * `GraftExtensions` injected, log level WARN. `getOrCreate` semantics:
    * a session already running in this JVM is returned as it is.
    */
  def local(cpus: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count for a tool main: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)
}
