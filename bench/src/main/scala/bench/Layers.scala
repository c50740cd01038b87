package bench

import Stats.{median, percentile}

/** The per-layer table. Every workload reports every name (the traced run
  * prints them all); a layer a workload does not exercise reads 0 with
  * n = 0. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "gen.late_p99_ms" -> "ms", "gen.append_ms" -> "ms",
    "source.latest_offset_ms" -> "ms", "source.rows_per_trigger" -> "count",
    "source.behind_records_max" -> "count", "source.read_task_ms_per_mrec" -> "ms",
    "source.read_mb" -> "MiB",
    "trigger.count" -> "count",
    "trigger.view.exec_ms.p50" -> "ms", "trigger.view.exec_ms.p95" -> "ms",
    "trigger.table.exec_ms.p50" -> "ms", "trigger.table.exec_ms.p95" -> "ms",
    "trigger.plan_ms" -> "ms", "trigger.add_batch_ms" -> "ms",
    "trigger.wal_ms" -> "ms", "trigger.commit_ms" -> "ms",
    "trigger.unaccounted_ms" -> "ms", "table.add_batch_ms" -> "ms",
    "state.rows_total" -> "count", "state.rows_updated_p50" -> "count",
    "state.memory_mb" -> "MiB", "state.commit_ms" -> "ms",
    "view.compactions" -> "count", "view.compact_ms" -> "ms",
    "view.delta_files_p50" -> "count", "view.read_jobs" -> "count",
    "view.read_stages" -> "count", "view.read_tasks" -> "count",
    "table.files" -> "count", "engine.seqnums_ms" -> "ms",
    "exec.busy_frac" -> "fraction", "exec.gc_ms" -> "ms", "exec.tasks" -> "count",
    "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms",
    "exec.shuffle_read_mb" -> "MiB", "exec.shuffle_write_mb" -> "MiB",
    "exec.spill_mb" -> "MiB",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms", "driver.gap_ms" -> "ms", "driver.share" -> "fraction",
    "read.unaccounted_ms" -> "ms",
    "setup.session_ms" -> "ms", "setup.tables_ms" -> "ms", "setup.warmup_ms" -> "ms")

  private val unitOf = Units.toMap

  /** Fill the full table: `got` wins, every other name reads 0, n = 0. */
  def table(got: Map[String, (Double, Long)]): Map[String, Metric] = {
    val unknown = got.keySet -- unitOf.keySet
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    Units.map { case (k, u) =>
      val (v, n) = got.getOrElse(k, (0.0, 0L))
      k -> Metric(if (v.isNaN) 0.0 else v, u, n)
    }.toMap
  }

  private val MiB = 1024.0 * 1024.0

  /** Trigger-phase metrics of the view and table queries' progress
    * reports. Phase p50s are taken over the view's triggers; the
    * remainder of `triggerExecution` no named phase covers is reported as
    * `trigger.unaccounted_ms`. */
  def triggers(view: Seq[Progress], table: Seq[Progress],
               compactEvery: Int): Map[String, (Double, Long)] = {
    def p50(ps: Seq[Progress], k: String) = {
      val e = median(ps.map(_.durations.getOrElse(k, 0L).toDouble)); (e.value, e.n)
    }
    val named = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
      "getBatch", "setOffsetRange", "getEndOffset")
    val rest = view.map(p => (p.durations.getOrElse("triggerExecution", 0L) -
      named.map(k => p.durations.getOrElse(k, 0L)).sum).toDouble)
    val folds = view.filter(p => p.batchId > 0 && p.batchId % compactEvery == 0)
    val plain = view.filterNot(folds.contains)
    val plainAdd = median(plain.map(_.durations.getOrElse("addBatch", 0L).toDouble)).value
    val foldExtra = folds.map(_.durations.getOrElse("addBatch", 0L) - plainAdd)
    val all = view ++ table
    def exec(ps: Seq[Progress], p: Double) = {
      val e = percentile(ps.map(_.durations.getOrElse("triggerExecution", 0L).toDouble), p)
      (e.value, e.n)
    }
    Map(
      "source.latest_offset_ms" -> p50(all, "latestOffset"),
      "source.rows_per_trigger" -> {
        val e = median(all.map(_.rows.toDouble)); (e.value, e.n) },
      "source.read_mb" -> (all.map(_.readBytes).sum / MiB, all.size.toLong),
      "trigger.count" -> (all.size.toDouble, all.size.toLong),
      "trigger.view.exec_ms.p50" -> exec(view, 0.5),
      "trigger.view.exec_ms.p95" -> exec(view, 0.95),
      "trigger.table.exec_ms.p50" -> exec(table, 0.5),
      "trigger.table.exec_ms.p95" -> exec(table, 0.95),
      "trigger.plan_ms" -> p50(view, "queryPlanning"),
      "trigger.add_batch_ms" -> p50(view, "addBatch"),
      "trigger.wal_ms" -> p50(view, "walCommit"),
      "trigger.commit_ms" -> p50(view, "commitOffsets"),
      "trigger.unaccounted_ms" -> { val e = median(rest); (e.value, e.n) },
      "table.add_batch_ms" -> p50(table, "addBatch"),
      "state.rows_total" -> (view.lastOption.map(_.stateRowsTotal.toDouble).getOrElse(0.0),
        view.size.toLong),
      "state.rows_updated_p50" -> {
        val e = median(view.map(_.stateRowsUpdated.toDouble)); (e.value, e.n) },
      "state.memory_mb" -> (view.lastOption.map(_.stateMemBytes / MiB).getOrElse(0.0),
        view.size.toLong),
      "state.commit_ms" -> {
        val e = median(view.map(_.stateCommitMs.toDouble)); (e.value, e.n) },
      "view.compactions" -> (folds.size.toDouble, folds.size.toLong),
      "view.compact_ms" -> (if (foldExtra.isEmpty) 0.0 else foldExtra.sum / foldExtra.size,
        foldExtra.size.toLong))
  }

  /** Executor-side metrics over the windows: busy fraction of `slots`, GC,
    * and the source read stages (stages whose tasks report input records,
    * outside the benchmark's own view reads, job group `readGroup`). */
  def executors(log: LayerLog, windows: Seq[(Double, Double)], slots: Int,
                readGroup: String): Map[String, (Double, Long)] = {
    val ts = windows.flatMap { case (lo, hi) => log.tasksIn(lo, hi) }
    val wall = windows.map { case (lo, hi) => hi - lo }.sum
    val viewReadStages = log.tasksOfJobs(
      windows.flatMap { case (lo, hi) => log.jobsIn(lo, hi, readGroup) }).map(_.stageId).toSet
    val byStage = ts.filterNot(t => viewReadStages.contains(t.stageId)).groupBy(_.stageId)
    val readStages = byStage.filter(_._2.exists(_.recordsRead > 0)).values.flatten.toSeq
    val recs = readStages.map(_.recordsRead).sum
    val n = ts.size.toLong
    Map(
      "exec.busy_frac" -> (ts.map(_.runMs).sum / (wall * slots), n),
      "exec.gc_ms" -> (ts.map(_.gcMs).sum.toDouble, n),
      "exec.run_ms" -> (ts.map(_.runMs).sum.toDouble, n),
      "exec.cpu_ms" -> (ts.map(_.cpuNs).sum / 1e6, n),
      "exec.tasks" -> (n.toDouble, n),
      "exec.shuffle_read_mb" -> (ts.map(_.shuffleReadBytes).sum / MiB, n),
      "exec.shuffle_write_mb" -> (ts.map(_.shuffleWriteBytes).sum / MiB, n),
      "exec.spill_mb" -> (ts.map(_.spillBytes).sum / MiB, n),
      "source.read_task_ms_per_mrec" ->
        (if (recs == 0) 0.0 else readStages.map(_.runMs).sum * 1e6 / recs, recs))
  }

  /** One timed view read: its wall interval, whether its result checked
    * out, the delta files it had to merge, and the planning phases from
    * the read's own `QueryExecution` tracker (traced run only). */
  final case class Read(startMs: Double, endMs: Double, ok: Boolean, deltaFiles: Long,
                        analysisMs: Double, optimizationMs: Double, planningMs: Double) {
    def ms: Double = endMs - startMs
  }

  /** Run `build` and collect it as job group `group`, timing the whole
    * read (building the DataFrame lists the delta files, so it counts). */
  def timedRead(ctx: Ctx, group: String, deltaFiles: => Long)(
      build: => org.apache.spark.sql.DataFrame)
      : (scala.util.Try[Array[org.apache.spark.sql.Row]], Read) = {
    val files = if (ctx.traced) deltaFiles else 0L
    ctx.spark.sparkContext.setJobGroup(group, "benchmark view read")
    val start = Clock.ms()
    val df = scala.util.Try(build)
    val rows = df.flatMap(d => scala.util.Try(d.collect()))
    val end = Clock.ms()
    ctx.spark.sparkContext.clearJobGroup()
    val ph = df.toOption.filter(_ => ctx.traced).map(_.queryExecution.tracker.phases)
      .getOrElse(Map.empty)
    def phase(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    (rows, Read(start, end, ok = rows.isSuccess, files, phase("analysis"),
      phase("optimization"), phase("planning")))
  }

  /** Per-read layer metrics (p50 over reads): jobs, stages and tasks the
    * read ran, its planning phases, and the driver gap — wall time no job
    * of the read covers. `read.unaccounted_ms` is the part of the gap the
    * planning phases do not explain (file listing, result collection). */
  def reads(log: LayerLog, rs: Seq[Read], group: String): Map[String, (Double, Long)] = {
    val per = rs.map { r =>
      val jobs = log.jobsIn(r.startMs, r.endMs, group)
      val gap = Stats.driverGap(r.startMs, r.endMs, jobs.map(j => (j.startMs, j.endMs)))
      (jobs.size.toDouble, jobs.map(_.stageIds.size).sum.toDouble,
        log.tasksOfJobs(jobs).size.toDouble, gap, gap / r.ms,
        gap - r.analysisMs - r.optimizationMs - r.planningMs)
    }
    def p50(xs: Seq[Double]) = { val e = median(xs); (e.value, e.n) }
    Map(
      "view.delta_files_p50" -> p50(rs.map(_.deltaFiles.toDouble)),
      "view.read_jobs" -> p50(per.map(_._1)),
      "view.read_stages" -> p50(per.map(_._2)),
      "view.read_tasks" -> p50(per.map(_._3)),
      "plan.analysis_ms" -> p50(rs.map(_.analysisMs)),
      "plan.optimization_ms" -> p50(rs.map(_.optimizationMs)),
      "plan.planning_ms" -> p50(rs.map(_.planningMs)),
      "driver.gap_ms" -> p50(per.map(_._4)),
      "driver.share" -> p50(per.map(_._5)),
      "read.unaccounted_ms" -> p50(per.map(_._6)))
  }

  /** Files (not directories) below `dir`, recursively; 0 if missing. */
  def fileCount(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).count() finally s.close()
    }
  }
}
