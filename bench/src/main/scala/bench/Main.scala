package bench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** A measured value with its unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, n: Long)

/** What a workload hands back: operation counts, the end-to-end metrics
  * under their workload-neutral contract names (`contract`), the same
  * figures under the names that say what they measure on this workload
  * (`named`), and the per-layer table (`layers`, traced run only). */
final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
                         contract: Map[String, Metric], named: Map[String, Metric],
                         layers: Map[String, Metric])

/** Everything one run shares: its arguments, the session and the
  * listeners the benchmark registered. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val traced: Boolean, val work: Path, val spans: Spans,
                val progress: ProgressLog, val layers: Option[LayerLog],
                val sessionMs: Double) {
  val root: Long = spans.nextId()

  /** Used heap in MiB after a full collection. */
  def heapRetainedMb(): Double = {
    System.gc(); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / (1024.0 * 1024.0)
  }

  def dir(name: String): String = {
    val p = work.resolve(name); Files.createDirectories(p); p.toString
  }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --master <url> --shuffle-partitions <n> --work <dir> --out <file>`.
  * Prints one plain-JSON line per workload with every end-to-end metric
  * (value, unit, n), then the result line, last. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "ingest_keyed" -> Keyed.run,
    "ingest_drain" -> Drain.run)

  def main(args: Array[String]): Unit = {
    val runStart = Clock.ms()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val traced = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    Files.createDirectories(work)

    val t0 = Clock.ms()
    val spark = SparkSession.builder()
      .master(need("master"))
      .appName(s"bench-$workload")
      .config("spark.sql.shuffle.partitions", need("shuffle-partitions"))
      .config("spark.default.parallelism", need("shuffle-partitions"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt").toString)
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = Clock.ms() - t0

    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val layers = if (traced) Some(new LayerLog) else None
    layers.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, need("seed").toLong, need("seconds").toInt, traced, work,
      new Spans(traced), progress, layers, sessionMs)

    val out = try body(ctx) catch {
      case e: Throwable =>
        e.printStackTrace()
        Outcome(1, 1, Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}"),
          Map.empty, Map.empty, Map.empty)
    }
    // one span per committed trigger, from the queries' progress reports
    progress.all.filter(_.ran).foreach { p =>
      ctx.spans.add(ctx.root, "trigger", p.startMs, p.endMs, Map("query" -> p.query,
        "batch_id" -> p.batchId.toString, "rows" -> p.rows.toString) ++
        p.durations.map { case (k, v) => s"ms.$k" -> v.toString })
    }
    ctx.spans.add(0L, "run", runStart, Clock.ms(), id = ctx.root)
    try spark.stop() catch { case _: Throwable => () }

    val correct = out.failed == 0 && out.errors.isEmpty && out.contract.nonEmpty
    Report.write(Paths.get(need("out")), workload, ctx, out, correct)
    println(Report.namedLine(workload, ctx.seed, traced, out))
    println(Report.resultLine(correct, out, traced))
    System.out.flush()
    // non-daemon threads left behind by Spark must not keep the JVM alive
    System.exit(0)
  }
}
