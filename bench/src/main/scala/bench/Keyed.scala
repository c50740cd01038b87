package bench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.ShardedLog
import graft.streaming.KinesisEngine

/** `ingest_keyed`: an open-loop generator puts CSV `k,v` records at a fixed
  * rate into a 4-shard log; one keyed continuous view (`GROUP BY k` →
  * count, sum(v)) consumes it; once it has caught up, point lookups go
  * through `viewTable`. See bench/README.md. */
object Keyed {
  val Rate = 3000            // records/s offered
  val Keys = 100000          // uniformly drawn key space
  val Shards = 4
  val TickMs = 50            // generator period
  val PerTick: Int = Rate * TickMs / 1000
  val CompactEvery = 16      // engine autoCompactEvery
  val Reads = 24             // timed point reads of the caught-up view
  val ReadWarmup = 4         // untimed reads first: this query shape is new to the JVM
  val WarmMinMs = 5000       // warm-up lasts at least this, then to a fold
  val WaitLimitMs = 90000    // give-up limit for warm-up and catch-up
  val View = "v"
  val Rel = "ks"

  private def key(i: Int) = f"k$i%06d"

  private def newEngine(ctx: Ctx, i: Int, logRoot: String): KinesisEngine = {
    val eng = new KinesisEngine(ctx.spark, ctx.dir(s"meta$i"), autoCompactEvery = CompactEvery)
    eng.addEndpoint("ep", "local", url = logRoot)
    eng.createStream(Rel, StructType(Seq(StructField("k", StringType), StructField("v", LongType))))
    eng.createContinuousView(View, Rel,
      df => df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s")), keys = Seq("k"))
    eng
  }

  def run(ctx: Ctx): Outcome = {
    val spans = ctx.spans
    val logRoot = ctx.dir("log")
    val logDir = s"$logRoot/$Rel"
    // set-up is repeated and its median reported; the last engine is used
    val setups = (0 until 3).map { i =>
      spans.timed(ctx.root, "setup.engine")(newEngine(ctx, i, logRoot)) }
    val eng = setups.last._1
    val setupMs = Stats.median(setups.map(_._2)).value

    // --- generator state (written by the generator thread only) ---------
    final case class Put(tick: Stats.Tick, keys: Array[Int])
    val rng = new java.util.Random(ctx.seed)
    val cnt = new Array[Long](Keys)
    val sm = new Array[Long](Keys)
    val puts = ArrayBuffer[Put]()
    val lateMs = ArrayBuffer[(Double, Double)]()    // (due, late)
    val appendMs = ArrayBuffer[(Double, Double)]()  // (due, time in putRecords)
    val tail = new ShardedLog.TailCache(logDir)
    @volatile var generated = Map.empty[String, Long]
    @volatile var windowEnd = Double.MaxValue
    @volatile var genError: Option[Throwable] = None

    val t0 = Clock.ms() + 200
    val gen = new Thread(() => try {
      var i = 0L
      var due = t0
      while (due < windowEnd) {
        val wait = due - Clock.ms()
        if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
        val start = Clock.ms()
        val ks = Array.fill(PerTick)(rng.nextInt(Keys))
        val vs = Array.fill(PerTick)(rng.nextInt(1000).toLong)
        val recs = ks.indices.map(j => (key(ks(j)), s"${key(ks(j))},${vs(j)}".getBytes(UTF_8)))
        ShardedLog.putRecords(logDir, Shards, recs, arrivalMillis = due.toLong)
        val end = Clock.ms()
        spans.add(ctx.root, "gen.tick", start, end, Map("tick" -> i.toString))
        // this generator is the log's only writer: the tail's growth is
        // exactly the sequence numbers this tick's records received
        val now = tail.advance().map { case (k, p) => k -> p.recs }
        val slices = now.collect { case (k, r) if r > generated.getOrElse(k, 0L) =>
          k -> (generated.getOrElse(k, 0L), r) }
        puts.synchronized {
          ks.indices.foreach { j => cnt(ks(j)) += 1; sm(ks(j)) += vs(j) }
          puts += Put(Stats.Tick(due, slices), ks)
          lateMs += ((due, start - due))
          appendMs += ((due, end - start))
        }
        generated = now
        i += 1
        due = t0 + i * TickMs
      }
    } catch { case e: Throwable => genError = Some(e) }, "bench-generator")
    gen.setDaemon(true)

    def viewCommits = ctx.progress.ofQuery(View)
    def covered: Map[String, Long] = viewCommits.lastOption.map(_.covered).getOrElse(Map.empty)
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val limit = Clock.ms() + WaitLimitMs
      while (!cond) {
        genError.foreach(e => throw new IllegalStateException("generator failed", e))
        ctx.progress.failed.foreach(m => throw new IllegalStateException(s"query failed: $m"))
        if (Clock.ms() > limit) throw new IllegalStateException(s"timed out waiting for $what")
        Thread.sleep(20)
      }
    }

    gen.start()
    waitFor("first tick")(generated.nonEmpty)
    val (_, beginMs) = spans.timed(ctx.root, "consume.begin") {
      eng.consumeBegin("ep", Rel, Rel, format = "csv", delimiter = ",",
        batchsize = 10000L, parallelism = 4)
    }
    waitFor("first view commit")(viewCommits.nonEmpty)

    // --- traced run only: the engine's own backlog view, `eng.seqnums` ---
    // It is a Spark query; run once a second next to the triggers it moved
    // every timing, so the untraced runs leave it out. The backlog flag
    // needs no query: it is computed from the commits after the window.
    @volatile var monitorOn = true
    val seqSamples = ArrayBuffer[(Double, Double, Double)]() // (t, records behind, ms)
    val monitor = new Thread(() => {
      while (monitorOn) {
        val t = Clock.ms()
        val latest = ShardedLog.latestPositions(logDir).values.map(_.recs).sum
        val (rows, ms) = spans.timed(ctx.root, "engine.seqnums")(eng.seqnums.collect())
        val committed = rows.map(_.getAs[Long]("seqnum")).sum
        seqSamples.synchronized(seqSamples += ((t, (latest - committed).toDouble, ms)))
        Thread.sleep(1000)
      }
    }, "bench-monitor")
    monitor.setDaemon(true)
    if (ctx.traced) monitor.start()

    // warm-up: at least WarmMinMs of ingest, then up to the end of the
    // next fold trigger, so every window starts at the same fold phase
    def foldAfter(t: Double) = viewCommits.find(p =>
      p.batchId > 0 && p.batchId % CompactEvery == 0 && p.endMs >= t)
    waitFor("warm-up fold")(foldAfter(t0 + WarmMinMs).isDefined)
    val ts = math.max(foldAfter(t0 + WarmMinMs).get.endMs, Clock.ms())
    spans.add(ctx.root, "warmup", t0, ts)
    // the window lasts at least the run's seconds and then up to the end of
    // the next fold, so it holds whole compaction cycles: every run weighs
    // the same share of fold-delayed records whatever its trigger speed
    waitFor("window end")(foldAfter(ts + ctx.seconds * 1000.0).isDefined)
    val te = foldAfter(ts + ctx.seconds * 1000.0).get.endMs
    windowEnd = te
    spans.add(ctx.root, "window", ts, te)
    gen.join(WaitLimitMs)
    genError.foreach(e => throw new IllegalStateException("generator failed", e))

    // catch-up: the view must cover every generated record
    val gend = generated
    waitFor("catch-up")(gend.forall { case (k, n) => covered.getOrElse(k, 0L) >= n })
    val caughtUp = Clock.ms()
    monitorOn = false
    monitor.join(WaitLimitMs)

    // --- point reads of the caught-up view, one after another ------------
    // Read while ingest runs, a point read (~0.6 s) competed with the
    // triggers for the 4 task slots and made every figure of the workload
    // swing by a fifth or more between runs, so the reads come after the
    // window, on the state the window left: a snapshot folded at the
    // window's last trigger plus the catch-up deltas. Every record is
    // committed now, so each read must return the key's exact count/sum.
    val rr = new java.util.Random(ctx.seed ^ 0x5eedL)
    val keyPool = puts.flatMap(_.keys).toArray
    val allReads = (0 until ReadWarmup + Reads).map { _ =>
      val k = keyPool(rr.nextInt(keyPool.length))
      val (res, r) = Layers.timedRead(ctx, "bench-read",
          Layers.fileCount(eng.viewDeltaDir(View))) {
        eng.viewTable(View).where(col("k") === key(k))
      }
      val ok = res.toOption.exists(rows => rows.length == 1 &&
        rows(0).getAs[Long]("n") == cnt(k) && rows(0).getAs[Long]("s") == sm(k))
      spans.add(ctx.root, "view.read", r.startMs, r.endMs,
        Map("key" -> key(k), "ok" -> ok.toString))
      r.copy(ok = ok)
    }
    val reads = allReads.drop(ReadWarmup)
    val heapMb = ctx.heapRetainedMb()
    eng.consumeEnd("ep", Rel, Rel)
    spans.add(ctx.root, "consume", beginMs, caughtUp)

    // --- output check: the view equals count/sum per key from the seed ---
    val got = eng.viewTable(View).collect()
      .map(r => r.getAs[String]("k") -> ((r.getAs[Long]("n"), r.getAs[Long]("s")))).toMap
    val expectKeys = (0 until Keys).filter(cnt(_) > 0)
    val badKeys = expectKeys.count(k => !got.get(key(k)).contains((cnt(k), sm(k)))) +
      (got.size - got.keySet.count(k => k.startsWith("k") && cnt(k.drop(1).toInt) > 0))
    val tableFiles = Layers.fileCount(eng.tableDataDir(Rel))

    // --- metrics over the timed window -----------------------------------
    val inWin = (t: Double) => t >= ts && t <= te
    val winTicks = puts.map(_.tick).filter(t => inWin(t.dueMs)).toSeq
    val (groups, uncovered) = Stats.attribute(winTicks, viewCommits.map(p =>
      Stats.Commit(p.endMs, p.covered)))
    val winRecords = winTicks.map(_.slices.values.map { case (a, b) => b - a }.sum).sum
    val okReads = reads.filter(_.ok)
    val vWin = viewCommits.filter(p => inWin(p.endMs))
    // the backlog each view commit of the window left: records generated
    // by the commit's end minus the records its end offset covers
    val tickRecs = puts.map(p => (p.tick.dueMs, p.tick.slices.values.map { case (a, b) => b - a }.sum))
    val afterCommit = vWin.map { c =>
      val gen = tickRecs.iterator.filter(_._1 <= c.endMs).map(_._2).sum
      (c.endMs / 1000.0, (gen - c.covered.values.sum).toDouble)
    }
    val grows = Stats.backlogGrows(afterCommit, Rate * 2.0)
    val backlog = seqSamples.filter(b => inWin(b._1)).toSeq
    val e50 = Stats.weightedPercentile(groups, 0.50)
    val e95 = Stats.weightedPercentile(groups, 0.95)
    val rd50 = Stats.median(okReads.map(_.ms))
    val tWin = ctx.progress.all.filter(p => p.isTable && p.ran && inWin(p.endMs))
    val busyS = vWin.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1000.0
    val rate = Metric(vWin.map(_.rows).sum / busyS, "1/s", vWin.size)
    val setupS = (ctx.sessionMs + setupMs + (ts - t0)) / 1000.0

    val errors = Seq.newBuilder[String]
    if (grows) errors += "backlog grew over the second half of the window"
    if (uncovered > 0) errors += s"$uncovered window records never became visible"
    if (badKeys > 0) errors += s"$badKeys keys differ from the seeded count/sum"
    val badReads = allReads.count(!_.ok)
    if (badReads > 0) errors += s"$badReads point reads failed " +
      "or returned another count/sum than the seed gives"
    val failed = (if (grows) winRecords else uncovered) + badReads + badKeys

    val e2e = Map(
      "setup_s" -> Metric(setupS, "s", setups.size),
      "latency_p50_ms" -> Metric(e50.value, "ms", e50.n),
      "latency_tail_ms" -> Metric(e95.value, "ms", e95.n),
      "read_p50_ms" -> Metric(rd50.value, "ms", rd50.n),
      "throughput_per_s" -> rate,
      "heap_retained_mb" -> Metric(heapMb, "MiB", 1))
    val named = Map(
      "setup_s" -> e2e("setup_s"),
      "e2v_p50_ms" -> e2e("latency_p50_ms"), "e2v_p95_ms" -> e2e("latency_tail_ms"),
      "view_read_p50_ms" -> e2e("read_p50_ms"), "view_rate_rps" -> rate,
      "heap_retained_mb" -> e2e("heap_retained_mb"),
      "failed_frac" -> Metric(failed.toDouble / math.max(1L, winRecords + allReads.size),
        "fraction", winRecords + allReads.size))

    val layers = ctx.layers.map { log =>
      val late = Stats.percentile(lateMs.filter(x => inWin(x._1)).map(_._2).toSeq, 0.99)
      val app = Stats.median(appendMs.filter(x => inWin(x._1)).map(_._2).toSeq)
      val sq = Stats.median(backlog.map(_._3))
      Layers.triggers(vWin, tWin, CompactEvery) ++ Layers.executors(log, Seq((ts, te)), 4, "bench-read") ++
        Layers.reads(log, okReads, "bench-read") ++ Map(
        "gen.late_p99_ms" -> (late.value, late.n),
        "gen.append_ms" -> (app.value, app.n),
        "source.behind_records_max" -> (backlog.map(_._2).maxOption.getOrElse(0.0),
          backlog.size.toLong),
        "table.files" -> (tableFiles.toDouble, 1L),
        "engine.seqnums_ms" -> (sq.value, sq.n),
        "setup.session_ms" -> (ctx.sessionMs, 1L),
        "setup.tables_ms" -> (setupMs, setups.size.toLong),
        "setup.warmup_ms" -> (ts - t0, 1L))
    }.map(Layers.table).getOrElse(Map.empty)

    Outcome(winRecords + allReads.size, failed, errors.result(), e2e, named, layers)
  }
}
