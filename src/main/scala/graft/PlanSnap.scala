package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for a set of declared queries into a
  * directory — the optimization-round evidence files
  * (plans/rNN/<query>_{before,after}.txt). Usage:
  *   runMain graft.PlanSnap <outDir> <suffix> [q1,q2,...]
  * Defaults: sf dir from SPARK_GRAFT_SF_DIR (sf0.1), all queries when no
  * list is given. Session config mirrors Bench (local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions = cpus) so the captured plans are the ones the
  * bench actually runs, not PlanDump's local[8] audit shape.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r21")
    val suffix = args.lift(1).getOrElse("before")
    val names = args.lift(2).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plansnap] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          println(s"[plansnap] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
