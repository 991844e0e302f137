package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession shape every graft main and the test suite run
  * on: shuffle partitions = cores, UTC session time, no UI, a fixed
  * warehouse dir. AQE and skew-join handling are Spark 4 defaults. Log
  * level and job-specific knobs (ExtractJob's scan split size) stay at
  * the call site.
  */
object GraftSession {

  /** Core count: an explicit `--cores` value, else SPARK_GRAFT_CPUS,
    * else every core the JVM sees. */
  def cores(explicit: Option[String] = None): Int =
    explicit.orElse(sys.env.get("SPARK_GRAFT_CPUS")).map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Everything but the master, for spark-submit runs whose `--master`
    * must win (ClusterBench). */
  def builder(app: String, cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")

  def local(app: String, cpus: Int): SparkSession =
    builder(app, cpus).master(s"local[$cpus]").getOrCreate()
}
