package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    // Correctness-gate marker (ADVICE r18 #1): queries with production
    // knobs whose DuckDB oracle hardcodes the default (e.g.
    // graft.media.phash.occcutoff) REFUSE a non-default setting when this
    // flag is up, so a stray conf can never silently desync the gate —
    // the run fails loudly instead of hash-mismatching.
    spark.conf.set("graft.gate", "true")
    new java.io.File(outDir).mkdirs()
    // comma-separated allowlist for single-query dumps (local iteration);
    // unset = all, which is what the driver runs
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // A failed query must be LOUD in the artifact itself: round 12 lost 24
    // queries to a schema drift and the correctness file silently shrank.
    // Record every failure in _errors.json alongside the dumps.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.forall(_.contains(name)))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        }
        finally spark.catalog.clearCache() // queries may cache() internally
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
