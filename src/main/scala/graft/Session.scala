package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession setup every entry point shares (Verify,
  * Bench, ScaleGen, Profile and the test suites): `local[cpus]` with
  * shuffle partitions = cpus, UTC session time, AQE on, the UI off and
  * the log level at WARN. `events.parquet` carries TIMESTAMP(NANOS),
  * which Spark only reads as a long, so `nanosAsLong` is on too.
  *
  * `confs` are applied after the defaults, so a caller can override any
  * of them (Bench's shuffle-partition override, a test's warehouse dir).
  */
object Session {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else the host's core count. */
  def defaultCpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def apply(cpus: String = defaultCpus, confs: Seq[(String, String)] = Nil): SparkSession = {
    val defaults = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(defaults) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
