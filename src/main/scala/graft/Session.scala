package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every entry point runs: `local[cpus]`
  * with one shuffle partition per core, UTC session time, nanosecond
  * parquet timestamps read as longs (the `events.ts` encoding
  * [[Tables.load]] normalizes) and no web UI. */
object Session {

  /** Cores to run on: `SPARK_GRAFT_CPUS`, else every processor the JVM
    * sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Build (or join) the session; `overrides` are extra or replacing
    * settings, e.g. `"spark.master"` to run on a cluster. */
  def create(app: String, overrides: (String, String)*): SparkSession = {
    val n = cpus
    val builder = SparkSession.builder()
      .appName(app)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    overrides.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
