package bench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.sources.ShardedLog
import graft.streaming.KinesisEngine

/** `ingest_drain`: a seeded backlog of README-shaped text records (the
  * payload is also the partition key and takes one of 100 values) is
  * drained with `consumeBackfill` by a fresh engine, alternately at
  * parallelism 4 and at parallelism 1. See bench/README.md. */
object Drain {
  val Backlog = 400000
  val Payloads = 100
  val Shards = 4
  val BatchSize = 50000L
  val WarmPairs = 1          // untimed warm-up: this many drains at each parallelism
  val Reads = 3              // timed view reads after each drain
  val Rel = "foo_stream"
  val View = "v"

  final case class Run(par: Int, startMs: Double, endMs: Double, reads: Seq[Layers.Read],
                       ok: Boolean, tableFiles: Long) {
    def ms: Double = endMs - startMs
  }

  def run(ctx: Ctx): Outcome = {
    val spans = ctx.spans
    val logRoot = ctx.dir("log")
    val rng = new java.util.Random(ctx.seed)
    val expect = new Array[Long](Payloads + 1)
    val (_, backlogMs) = spans.timed(ctx.root, "setup.backlog") {
      (0 until Backlog).grouped(20000).foreach { chunk =>
        val recs = chunk.map { _ =>
          val p = 1 + rng.nextInt(Payloads)
          expect(p) += 1
          (s"foo$p", s"foo$p".getBytes(UTF_8))
        }
        ShardedLog.putRecords(s"$logRoot/s", Shards, recs)
      }
    }
    val total = ShardedLog.latestPositions(s"$logRoot/s").values.map(_.recs).sum
    require(total == Backlog, s"log holds $total records, expected $Backlog")

    var engines = 0
    val setupMs = scala.collection.mutable.ArrayBuffer[Double]()
    /** One drain on a fresh engine; untimed set-up and output check. */
    def drain(par: Int, parent: Long): Run = {
      engines += 1
      val meta = ctx.dir(s"meta$engines")
      val (eng, sMs) = spans.timed(parent, "setup.engine") {
        val e = new KinesisEngine(ctx.spark, meta)
        e.addEndpoint("ep", "local", url = logRoot)
        e.createStream(Rel, StructType(Seq(StructField("payload", StringType))))
        e.createContinuousView(View, Rel,
          df => df.groupBy("payload").agg(count(lit(1)).as("n")), keys = Seq("payload"))
        e
      }
      setupMs += sMs
      val t0 = Clock.ms()
      eng.consumeBackfill("ep", "s", Rel, format = "text", batchsize = BatchSize,
        parallelism = par)
      val t1 = Clock.ms()
      spans.add(parent, "consume.backfill", t0, t1, Map("parallelism" -> par.toString))
      val want = (1 to Payloads).filter(expect(_) > 0).map(p => s"foo$p" -> expect(p)).toMap
      val reads = (0 until Reads).map { _ =>
        val (rows, read) = Layers.timedRead(ctx, "bench-read",
          Layers.fileCount(eng.viewDeltaDir(View)))(eng.viewTable(View))
        spans.add(parent, "view.read", read.startMs, read.endMs)
        val got = rows.toOption.map(_.map(r =>
          r.getAs[String]("payload") -> r.getAs[Long]("n")).toMap)
        read.copy(ok = got.contains(want))
      }
      val (tableRows, _) = spans.timed(parent, "table.count")(eng.streamTable(Rel).count())
      val files = Layers.fileCount(eng.tableDataDir(Rel))
      Run(par, t0, t1, reads, reads.forall(_.ok) && tableRows == Backlog, files)
    }

    // warm-up in the same JVM, untimed. It is counted in drains, not in
    // seconds: the JIT warms with the work done, so a slow host must not
    // start timing on a colder JVM than a fast one.
    val warm0 = Clock.ms()
    val warm = spans.nextId()
    val warmRuns = (0 until WarmPairs).flatMap(_ => Seq(drain(4, warm), drain(1, warm)))
    val warm1 = Clock.ms()
    spans.add(ctx.root, "warmup", warm0, warm1, id = warm)
    val warmMs = warm1 - warm0
    val setupS = (ctx.sessionMs + backlogMs + Stats.median(setupMs.toSeq).value + warmMs) / 1000.0

    // timed: alternate parallelism 4 and 1 until the run's seconds are used
    val start = Clock.ms()
    val runs = scala.collection.mutable.ArrayBuffer[Run]()
    while (runs.size < 4 || Clock.ms() - start < ctx.seconds * 1000.0) {
      runs += drain(4, ctx.root)
      runs += drain(1, ctx.root)
    }
    val heapMb = ctx.heapRetainedMb()

    val good = runs.filter(_.ok).toSeq
    val p4 = Stats.median(good.filter(_.par == 4).map(_.ms))
    val p1 = Stats.median(good.filter(_.par == 1).map(_.ms))
    val rd = Stats.median(good.flatMap(_.reads).map(_.ms))
    val rps4 = Metric(Backlog / (p4.value / 1000.0), "1/s", p4.n)
    val rps1 = Metric(Backlog / (p1.value / 1000.0), "1/s", p1.n)
    val failed = runs.count(!_.ok) + warmRuns.count(!_.ok)
    val errors = if (failed > 0) Seq(s"$failed drains left a view or stream table " +
      "that differs from the seeded backlog") else Nil

    val e2e = Map(
      "setup_s" -> Metric(setupS, "s", setupMs.size),
      "latency_p50_ms" -> Metric(p4.value, "ms", p4.n),
      "latency_tail_ms" -> Metric(p1.value, "ms", p1.n),
      "read_p50_ms" -> Metric(rd.value, "ms", rd.n),
      "throughput_per_s" -> rps4,
      "heap_retained_mb" -> Metric(heapMb, "MiB", 1))
    val named = Map(
      "setup_s" -> e2e("setup_s"), "drain_rps" -> rps4, "drain_p1_rps" -> rps1,
      "drain_ms" -> e2e("latency_p50_ms"), "drain_p1_ms" -> e2e("latency_tail_ms"),
      "view_read_p50_ms" -> e2e("read_p50_ms"), "heap_retained_mb" -> e2e("heap_retained_mb"),
      "failed_frac" -> Metric(failed.toDouble / (runs.size + warmRuns.size), "fraction",
        runs.size + warmRuns.size))

    val layers = ctx.layers.map { log =>
      val win = good.map(r => (r.startMs, r.endMs))
      val inWin = (t: Double) => win.exists { case (a, b) => t >= a && t <= b }
      val prog = ctx.progress.all.filter(p => p.ran && inWin(p.endMs))
      val files = Stats.median(good.map(_.tableFiles.toDouble))
      Layers.triggers(prog.filterNot(_.isTable), prog.filter(_.isTable), 64) ++
        Layers.executors(log, win, 4, "bench-read") ++ Layers.reads(log, good.flatMap(_.reads), "bench-read") ++
        Map(
          "table.files" -> (files.value, files.n),
          "setup.session_ms" -> (ctx.sessionMs, 1L),
          "setup.tables_ms" -> (backlogMs + Stats.median(setupMs.toSeq).value, 1L),
          "setup.warmup_ms" -> (warmMs, warmRuns.size.toLong))
    }.map(Layers.table).getOrElse(Map.empty)

    Outcome(runs.size + warmRuns.size, failed, errors, e2e, named, layers)
  }
}
