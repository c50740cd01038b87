package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every batch main runs under: `local[cpus]` with
  * as many shuffle partitions as cores, UTC session time (query results
  * and plans must not depend on the JVM's zone), no UI, and the graft SQL
  * extensions. `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4. */
object Session {
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
