package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main and the test suite build
  * their session here, so the local-mode config cannot drift between
  * entry points. Any `spark.*` setting it does not fix reaches the
  * session as a JVM flag, `-Dspark.<key>=<value>`, because SparkConf
  * loads `spark.*` system properties. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS` if set, else `fallback`. */
  def envCpus(fallback: Int = Runtime.getRuntime.availableProcessors): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(fallback)(_.trim.toInt)

  /** `local[cpus]` with one shuffle partition per core, UTC session
    * time, no UI, the warehouse under `java.io.tmpdir` (never the
    * working directory) and WARN logging. */
  def build(cpus: Int = envCpus()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
