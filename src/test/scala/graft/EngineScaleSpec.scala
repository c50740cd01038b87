package graft

import graft.sources.{ShardedLog, ShardedLogMicroBatchStream}
import graft.streaming.KinesisEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-4 scale/fidelity contracts: replay-stable arrival timestamps,
  * incremental (update-mode) continuous-view materialization, tail-cached
  * seqnums with the millisecond lag metric, the parallelism knob, and
  * catalog format versioning. */
class EngineScaleSpec extends SparkSpec {

  private def mkEngine(meta: String, root: String, stream: String,
                       view: String): KinesisEngine = {
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream(stream, StructType(Seq(StructField("payload", StringType))))
    eng.createContinuousView(view, stream, _.groupBy("payload").count())
    eng
  }

  test("arrival timestamps are fixed at put time — replay reproduces identical rows") {
    // reference parity: approximateArrivalTimestamp lives ON the record
    // (kinesis_consumer.cpp:485-489); a replayed batch must yield the same
    // rows, timestamps included (the r3 read-time stamping did not).
    val root = tmpDir("rp-root")
    ShardedLog.append(s"$root/s", 0, Seq(("a", "1"), ("b", "2")))
    Thread.sleep(5)
    ShardedLog.append(s"$root/s", 0, Seq(("c", "3")))

    def ingest(meta: String): Seq[(String, java.sql.Timestamp)] = {
      val eng = mkEngine(meta, root, "rp_stream", "rp_view")
      eng.consumeBegin("ep", "s", "rp_stream", format = "text")
      eng.processAllAvailable(); eng.consumeEndAll()
      eng.streamTable("rp_stream").collect()
        .map(r => (r.getString(0), r.getTimestamp(1))).toSeq.sortBy(_._1)
    }
    // two independent engines over the SAME log = a full replay
    val first = ingest(tmpDir("rp-m1"))
    val second = ingest(tmpDir("rp-m2"))
    assert(first.map(_._1) === Seq("1", "2", "3"))
    assert(first === second, "replayed ingest is identical, timestamps included")
    assert(first.map(_._2).distinct.size >= 2,
      "timestamps are per-put, not one constant")
  }

  test("incremental view: per-batch delta ∝ touched groups, not total groups") {
    val root = tmpDir("hc-root"); val meta = tmpDir("hc-meta")
    ShardedLog.append(s"$root/s", 0, (1 to 2000).map(i => (s"k$i", s"k$i")))
    val eng = mkEngine(meta, root, "hc_stream", "hc_view")
    eng.consumeBegin("ep", "s", "hc_stream", format = "text", batchsize = 10000)
    eng.processAllAvailable()
    val deltaDir = eng.viewDeltaDir("hc_view")
    val afterLoad = spark.read.parquet(deltaDir).count()
    assert(afterLoad >= 2000L)
    // touch ONE group: the batch must append ~1 row, not rewrite 2000
    ShardedLog.append(s"$root/s", 0, Seq(("k42", "k42")))
    eng.processAllAvailable()
    val afterOne = spark.read.parquet(deltaDir).count()
    assert(afterOne - afterLoad <= 2L,
      s"1-group update appended ${afterOne - afterLoad} delta rows — " +
        "per-trigger sink cost must track touched groups (complete-mode rewrite is gone)")
    // the merged read is still the full, correct aggregate
    val m = eng.viewTable("hc_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.size === 2000 && m("k42") === 2L && m("k1") === 1L)
    eng.consumeEndAll()
  }

  test("view merge read: max_by aggregate path equals the window path, and plans without a window") {
    // r21 optimization: the newest-per-key delta merge is a max_by
    // aggregate (partial map-side agg collapses same-key delta rows
    // before the exchange) instead of a row_number window. Equivalence
    // is the contract: same rows under graft.r21=1 (aggregate) and =0
    // (window), and the optimized logical plan must carry an Aggregate
    // and no Window node.
    val root = tmpDir("mm-root"); val meta = tmpDir("mm-meta")
    val eng = mkEngine(meta, root, "mm_stream", "mm_view")
    ShardedLog.append(s"$root/s", 0, Seq(("a", "a"), ("b", "b"), ("a", "a")))
    eng.consumeBegin("ep", "s", "mm_stream", format = "text")
    eng.processAllAvailable()
    // second batch overlaps key "a" — the merge must pick its newer count
    ShardedLog.append(s"$root/s", 0, Seq(("a", "a"), ("c", "c")))
    eng.processAllAvailable()
    eng.consumeEndAll()
    def rows() = eng.viewTable("mm_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // try/finally (ADVICE r21 #2): a mid-test failure must not leak
    // graft.r21=0 into the shared session and silently flip later tests
    // onto unoptimized paths
    val (agg, plan, win) = try {
      spark.conf.set("graft.r21", "1")
      val agg = rows()
      val plan = eng.viewTable("mm_view").queryExecution.optimizedPlan.toString
      spark.conf.set("graft.r21", "0")
      (agg, plan, rows())
    } finally spark.conf.unset("graft.r21")
    assert(agg === Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    assert(win === agg, "window-path and aggregate-path merges must agree")
    assert(plan.contains("Aggregate") && !plan.contains("Window"),
      s"optimized merge must be an aggregate, not a window:\n$plan")
  }

  test("view compaction folds deltas; merge stays correct; newer deltas still win") {
    val root = tmpDir("vc-root"); val meta = tmpDir("vc-meta")
    val eng = mkEngine(meta, root, "vc_stream", "vc_view")
    ShardedLog.append(s"$root/s", 0, Seq(("x", "a"), ("y", "b")))
    eng.consumeBegin("ep", "s", "vc_stream", format = "text")
    eng.processAllAvailable()
    ShardedLog.append(s"$root/s", 0, Seq(("z", "a")))
    eng.processAllAvailable()
    eng.consumeEndAll()
    assert(eng.viewTable("vc_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("a" -> 2L, "b" -> 1L))
    eng.compactViewTable("vc_view", targetPartitions = 1)
    assert(eng.viewTable("vc_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("a" -> 2L, "b" -> 1L),
      "compaction preserves the merged result")
    // deltas written after compaction must override the compacted rows
    ShardedLog.append(s"$root/s", 0, Seq(("w", "a")))
    eng.consumeBegin("ep", "s", "vc_stream", format = "text")
    eng.processAllAvailable()
    assert(eng.viewTable("vc_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("a" -> 3L, "b" -> 1L))
    eng.consumeEndAll()
  }

  test("seqnums lag accumulates while stopped (records + millis) and drains to 0") {
    val root = tmpDir("lag-root"); val meta = tmpDir("lag-meta")
    val eng = mkEngine(meta, root, "lag_stream", "lag_view")
    ShardedLog.append(s"$root/s", 0, (1 to 10).map(i => (s"k$i", s"v$i")))
    eng.consumeBegin("ep", "s", "lag_stream", format = "text")
    eng.processAllAvailable()
    eng.consumeEndAll()
    // stopped consumers still report their committed position (the
    // reference's seqnums table is a persistent catalog relation)
    ShardedLog.append(s"$root/s", 0, (1 to 3).map(i => (s"n$i", s"w$i")))
    Thread.sleep(10)
    val lag = eng.seqnums.collect()
    assert(lag.length === 1 && lag.head.getLong(2) === 10L)
    assert(lag.head.getLong(3) === 3L, "3 unconsumed records behind the tip")
    assert(lag.head.getLong(4) >= 10L,
      "millis_behind_latest = now − arrival of first unconsumed record")
    eng.consumeBegin("ep", "s", "lag_stream", format = "text")
    eng.processAllAvailable()
    eng.consumeEndAll()
    val drained = eng.seqnums.collect()
    assert(drained.head.getLong(2) === 13L)
    assert(drained.head.getLong(3) === 0L && drained.head.getLong(4) === 0L,
      "lag drains to 0 after processAllAvailable (README.md:119-126 loop)")
    // a crash-torn catalog (consumer row whose endpoint is gone) degrades
    // to UNKNOWN lag — null in BOTH columns, never a fake "drained" 0
    eng.removeEndpoint("ep")
    val unknown = eng.seqnums.collect()
    assert(unknown.head.getLong(2) === 13L, "committed seqnum still reported")
    assert(unknown.head.isNullAt(3) && unknown.head.isNullAt(4),
      "unresolvable log = unknown lag, reported as null not 0")
  }

  test("seqnums polling scans only the appended delta (engine tail cache)") {
    val root = tmpDir("tc-root"); val meta = tmpDir("tc-meta")
    val eng = mkEngine(meta, root, "tc_stream", "tc_view")
    ShardedLog.append(s"$root/s", 0, (1 to 1000).map(i => (s"k$i", s"v$i")))
    eng.consumeBegin("ep", "s", "tc_stream", format = "text")
    eng.processAllAvailable()
    eng.consumeEndAll() // no background pollers left to move the counter
    eng.seqnums.collect() // first poll: tail cache catches up once
    val before = ShardedLog.bytesScanned.get()
    eng.seqnums.collect()
    assert(ShardedLog.bytesScanned.get() === before,
      "second idle poll scans zero bytes — no full lineCounts rescan")
    ShardedLog.append(s"$root/s", 0, Seq(("kx", "vx")))
    val mid = ShardedLog.bytesScanned.get()
    eng.seqnums.collect()
    val delta = ShardedLog.bytesScanned.get() - mid
    assert(delta > 0L && delta < 200L,
      s"poll after a 1-record append scans only that record ($delta bytes)")
  }

  test("parallelism caps source tasks — batch and micro-batch planning") {
    val dir = tmpDir("par")
    (0 until 4).foreach(sh => ShardedLog.append(dir, sh, Seq((s"k$sh", s"v$sh"))))
    val df2 = spark.read.format(ShardedLog.FORMAT)
      .option("path", dir).option("parallelism", "2").load()
    assert(df2.rdd.getNumPartitions === 2, "4 shards grouped into 2 tasks")
    assert(df2.count() === 4, "grouping loses no records")
    val df0 = spark.read.format(ShardedLog.FORMAT).option("path", dir).load()
    assert(df0.rdd.getNumPartitions === 4, "default: one task per shard")
    // parallelism=1 = the reference's single-bgworker serial consumer
    val ms = new ShardedLogMicroBatchStream(dir, 1000L, "trim_horizon", 1)
    val start = ms.initialOffset()
    val end = ms.latestOffset(start, null)
    assert(ms.planInputPartitions(start, end).length === 1)
  }

  test("unversioned catalog metaDir is refused with a migration error") {
    val meta = tmpDir("cat-ver")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(meta, "endpoints.tsv"),
      "ep\tus-west-2\t-\t/tmp/x") // pre-versioning row format (raw names)
    val e = intercept[IllegalStateException](new KinesisEngine(spark, meta))
    assert(e.getMessage.contains("catalog format"))
  }

  test("sliding-window CV: bucketed incremental agg, read-time aging, expiry") {
    // PipelineDB `WITH (sw = '1 hour')` parity: old data ages out of the
    // result without recomputing from raw rows — reads combine only the
    // live bucket partials.
    val root = tmpDir("sw-root"); val meta = tmpDir("sw-meta")
    val dir = s"$root/s"
    def put(recs: Seq[(String, String)], ageMs: Long): Unit =
      ShardedLog.appendBytes(dir, 0,
        recs.map { case (k, v) => (k, v.getBytes("UTF-8")) },
        arrivalMillis = System.currentTimeMillis() - ageMs)
    put(Seq(("a", "x"), ("b", "x"), ("c", "y")), 7200 * 1000L) // 2h old
    put(Seq(("d", "x"), ("e", "y")), 30 * 1000L)               // 30s old
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("swv_stream", StructType(Seq(StructField("payload", StringType))))
    eng.createSlidingView("swv_view", "swv_stream", keys = Seq("payload"),
      aggs = Seq("n" -> "count"), width = "1 HOUR", slide = "5 minutes")
    eng.consumeBegin("ep", "s", "swv_stream", format = "text")
    eng.processAllAvailable(); eng.consumeEndAll()
    // the merged standing state holds dead AND live bucket partials...
    assert(eng.viewTable("swv_view").count() === 4L,
      "(old: x=2, y=1) + (live: x=1, y=1) bucket partials")
    // ...but the sliding read combines only buckets inside the window
    def sw = eng.slidingViewTable("swv_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sw === Map("x" -> 1L, "y" -> 1L),
      "the 2-hour-old bucket aged out of the 1-hour window")
    // expiry physically drops dead partials; the sliding result is stable
    val before = spark.read.parquet(eng.viewDeltaDir("swv_view")).count()
    eng.expireSlidingViewTable("swv_view", targetPartitions = 1)
    val after = spark.read.parquet(eng.viewDeltaDir("swv_view")).count()
    assert(after === 2L && after < before, "only live bucket partials remain")
    assert(sw === Map("x" -> 1L, "y" -> 1L))
  }

  test("sliding view avg recombines as weighted sum/count partials") {
    val root = tmpDir("swa-root"); val meta = tmpDir("swa-meta")
    val dir = s"$root/s"
    def put(recs: Seq[(String, String)], ageMs: Long): Unit =
      ShardedLog.appendBytes(dir, 0,
        recs.map { case (k, v) => (k, v.getBytes("UTF-8")) },
        arrivalMillis = System.currentTimeMillis() - ageMs)
    put(Seq(("a", "x,100"), ("b", "y,100")), 7200 * 1000L)          // dead bucket
    put(Seq(("c", "x,10")), 600 * 1000L)                            // live bucket A
    put(Seq(("d", "x,20"), ("e", "x,30"), ("f", "y,7")), 30 * 1000L) // live bucket B
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("swa_stream", StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType))))
    eng.createSlidingView("swa_view", "swa_stream", keys = Seq("k"),
      aggs = Seq("n" -> "count", "mean" -> "avg:v"),
      width = "1 HOUR", slide = "5 minutes")
    eng.consumeBegin("ep", "s", "swa_stream", format = "csv", delimiter = ",")
    eng.processAllAvailable(); eng.consumeEndAll()
    val m = eng.slidingViewTable("swa_view").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // x live values are 10 (bucket A) and 20, 30 (bucket B): the combine
    // must be Σsum/Σcount = 20.0, NOT the bucket-avg mean 17.5 — and the
    // 2-hour-old 100s must not contribute at all
    assert(m === Map("x" -> ((3L, 20.0)), "y" -> ((1L, 7.0))),
      "avg folds (sum,count) partials weighted across live buckets only")
  }

  test("sliding views auto-reap dead buckets on the compaction cadence") {
    val root = tmpDir("swar-root"); val meta = tmpDir("swar-meta")
    val dir = s"$root/s"
    val eng = new KinesisEngine(spark, meta, autoCompactEvery = 2)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("swar_stream", StructType(Seq(StructField("payload", StringType))))
    eng.createSlidingView("swar_view", "swar_stream", keys = Seq("payload"),
      aggs = Seq("n" -> "count"), width = "1 HOUR", slide = "5 minutes")
    ShardedLog.appendBytes(dir, 0, Seq(("a", "x".getBytes("UTF-8"))),
      arrivalMillis = System.currentTimeMillis() - 7200 * 1000L) // dead bucket
    eng.consumeBegin("ep", "s", "swar_stream", format = "text")
    eng.processAllAvailable()
    for (i <- 1 to 3) { // live batches; the fold at batch 2 also reaps
      ShardedLog.append(dir, 0, Seq((s"k$i", "y")))
      eng.processAllAvailable()
    }
    val raw = spark.read.option("recursiveFileLookup", "true")
      .parquet(eng.viewDeltaDir("swar_view"))
    assert(raw.filter(col("__bucket.end") <=
        current_timestamp() - expr("INTERVAL 1 HOUR")).count() === 0L,
      "aged-out bucket physically dropped without any explicit expiry call" +
        " — standing state is bounded by the live window on a 24/7 stream")
    assert(eng.slidingViewTable("swar_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("y" -> 3L))
    eng.consumeEndAll()
  }

  test("delta log auto-compacts online — no consumer stop, bounded merge cost") {
    val root = tmpDir("ac-root"); val meta = tmpDir("ac-meta")
    val eng = new KinesisEngine(spark, meta, autoCompactEvery = 2)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("ac_stream", StructType(Seq(StructField("payload", StringType))))
    eng.createContinuousView("ac_view", "ac_stream", _.groupBy("payload").count())
    ShardedLog.append(s"$root/s", 0, Seq(("k", "k0")))
    eng.consumeBegin("ep", "s", "ac_stream", format = "text")
    eng.processAllAvailable()
    for (i <- 1 to 5) {
      ShardedLog.append(s"$root/s", 0, Seq(("k", s"k$i")))
      eng.processAllAvailable()
    }
    // compaction fired mid-stream: the pointer moved past delta-0 while
    // the consumer never stopped
    assert(!eng.viewDeltaDir("ac_view").endsWith("delta-0"),
      "auto-compaction advanced the delta version during ingest")
    val m = eng.viewTable("ac_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m === (0 to 5).map(i => s"k$i" -> 1L).toMap, "merge unchanged")
    // folded: the live delta holds ~one row per group, not one per batch
    val rows = spark.read.parquet(eng.viewDeltaDir("ac_view")).count()
    assert(rows <= 8L, s"delta folded (rows=$rows)")
    eng.consumeEndAll()
  }

  test("viewTable stays readable under concurrent appends and compactions") {
    // worst case: compact EVERY batch; a reader loops concurrently. The
    // one-version grace window must keep every read serving a complete
    // snapshot (old or new) — never a deleted or half-written dir.
    val root = tmpDir("gr-root"); val meta = tmpDir("gr-meta")
    val eng = new KinesisEngine(spark, meta, autoCompactEvery = 1)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("gr_stream", StructType(Seq(StructField("payload", StringType))))
    eng.createContinuousView("gr_view", "gr_stream", _.groupBy("payload").count())
    ShardedLog.append(s"$root/s", 0, Seq(("k", "k0")))
    eng.consumeBegin("ep", "s", "gr_stream", format = "text")
    eng.processAllAvailable()
    @volatile var err: Throwable = null
    @volatile var reads = 0
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try while (!stop.get()) { eng.viewTable("gr_view").count(); reads += 1 }
      catch { case t: Throwable => err = t }
    })
    reader.start()
    try
      for (i <- 1 to 8) {
        ShardedLog.append(s"$root/s", 0, Seq(("k", s"k$i")))
        eng.processAllAvailable()
      }
    finally { stop.set(true); reader.join(30000) }
    assert(err == null, s"concurrent read failed: $err")
    assert(reads > 0, "reader actually overlapped the stream")
    assert(eng.viewTable("gr_view").count() === 9L)
    eng.consumeEndAll()
  }

  /** Rows of a frame as sorted strings — a multiset comparison key. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Whether the view's live delta dir holds an entry hard-linked from the
    * previous version, i.e. carried across a fold's pointer flip. */
  private def hasCarried(eng: KinesisEngine, view: String): Boolean = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    files(new java.io.File(eng.viewDeltaDir(view)))
      .filter(_.getName.startsWith("part-"))
      .exists(f => java.nio.file.Files.getAttribute(f.toPath, "unix:nlink")
        .asInstanceOf[Int] > 1)
  }

  test("folds interleaved with appends: every view kind equals a batch recomputation") {
    // a second thread folds while the stream keeps committing, so appends
    // land in delta-v during the merge and must be carried across the
    // flip; after each round every view must equal a batch recomputation
    // over the stream table
    val root = tmpDir("fi-root"); val meta = tmpDir("fi-meta")
    val dir = s"$root/s"
    val eng = new KinesisEngine(spark, meta, autoCompactEvery = 0)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("fi_stream", StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType))))
    eng.createContinuousView("fi_keyed", "fi_stream",
      _.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s")))
    eng.createContinuousView("fi_global", "fi_stream",
      _.agg(count(lit(1)).as("n"), sum("v").as("s")))
    eng.createContinuousTransform("fi_tx", "fi_stream", _.select(col("k"), col("v")))
    eng.createSlidingView("fi_sw", "fi_stream", keys = Seq("k"),
      aggs = Seq("n" -> "count"), width = "1 HOUR", slide = "1 minute")
    val rnd = new scala.util.Random(7)
    var next = 0
    def put(n: Int): Unit = {
      ShardedLog.append(dir, 0, (1 to n).map { _ =>
        next += 1; (s"p$next", s"k${rnd.nextInt(300)},${rnd.nextInt(100)}")
      })
    }
    def check(step: String): Unit = {
      val st = eng.streamTable("fi_stream")
      assert(rowsOf(eng.viewTable("fi_keyed")) ===
        rowsOf(st.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))), step)
      assert(rowsOf(eng.viewTable("fi_global")) ===
        rowsOf(st.agg(count(lit(1)).as("n"), sum("v").as("s"))), step)
      assert(rowsOf(eng.viewTable("fi_tx")) === rowsOf(st.select("k", "v")), step)
      assert(rowsOf(eng.viewTable("fi_sw")) ===
        rowsOf(st.groupBy(window(col("arrival_timestamp"), "1 minute").as("__bucket"),
          col("k")).agg(count(lit(1)).as("n"))), step)
    }
    val views = Seq("fi_keyed", "fi_global", "fi_tx", "fi_sw")
    put(2000)
    val id = eng.consumeBegin("ep", "s", "fi_stream", format = "csv",
      delimiter = ",", batchsize = 100000)
    eng.processAllAvailable()
    check("initial load")
    var carried = Set.empty[String]
    var round = 0
    // at least 4 rounds; more (up to 12) until some fold has carried
    while (round < 4 || (carried.isEmpty && round < 12)) {
      round += 1
      @volatile var err: Throwable = null
      val folder = new Thread(() =>
        try views.foreach { v =>
          if (v == "fi_sw") eng.expireSlidingViewTable(v) else eng.compactViewTable(v)
        } catch { case t: Throwable => err = t })
      folder.start()
      while (folder.isAlive) { put(20); eng.processAllAvailable() }
      folder.join()
      assert(err == null, s"fold failed in round $round: $err")
      carried ++= views.filter(hasCarried(eng, _))
      check(s"after fold round $round")
      put(20); eng.processAllAvailable()
      check(s"after appends of round $round")
    }
    assert(carried.nonEmpty,
      "some fold overlapped an append and carried it across the flip")
    // a transform batch replayed after it was folded is skipped: drop the
    // last commit (a crash between the delta write and the commit), fold,
    // restart — the replay must not re-append the folded rows
    eng.consumeEndAll()
    val commits = java.nio.file.Paths.get(meta, "checkpoints", id.toString,
      "fi_tx", "commits")
    val last = new java.io.File(commits.toString).listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong).toPath
    java.nio.file.Files.delete(last)
    java.nio.file.Files.deleteIfExists(last.resolveSibling(s".${last.getFileName}.crc"))
    eng.compactViewTable("fi_tx")
    eng.consumeBegin("ep", "s", "fi_stream", format = "csv", delimiter = ",",
      batchsize = 100000)
    eng.processAllAvailable()
    assert(eng.activeQueries.find(_.name == "fi_tx").get.lastProgress != null,
      "the transform re-ran its uncommitted batch")
    check("after a replay of a folded batch")
    eng.consumeEndAll()
  }

  test("a failed background fold fails the view's next cadence trigger") {
    val root = tmpDir("ff-root"); val meta = tmpDir("ff-meta")
    val dir = s"$root/s"
    val eng = new KinesisEngine(spark, meta, autoCompactEvery = 2)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("ff_stream", StructType(Seq(StructField("payload", StringType))))
    eng.createContinuousView("ff_view", "ff_stream", _.groupBy("payload").count())
    ShardedLog.append(dir, 0, Seq(("k", "a")))
    eng.consumeBegin("ep", "s", "ff_stream", format = "text")
    eng.processAllAvailable()
    // a committed-looking delta file that is not parquet: appends never
    // read it, the fold's merge does
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(eng.viewDeltaDir("ff_view"), "part-99999-garbage.parquet"),
      "not a parquet file")
    def batch(): Long = {
      ShardedLog.append(dir, 0, Seq(("k", "b")))
      eng.processAllAvailable()
      eng.activeQueries.find(_.name == "ff_view").get.lastProgress.batchId
    }
    assert(batch() === 1L)
    assert(batch() === 2L, "the cadence trigger returns; its fold fails in the background")
    assert(batch() === 3L, "an off-cadence trigger does not surface the failure")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](batch())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("part-99999-garbage")),
      s"the query fails with the fold's exception: $e")
    assert(eng.activeQueries.find(_.name == "ff_view").get.exception.isDefined)
    eng.consumeEndAll()
  }

  test("a keyed fold merges with one exchange and runs no max(__batch) job") {
    val root = tmpDir("fx-root"); val meta = tmpDir("fx-meta")
    val eng = mkEngine(meta, root, "fx_stream", "fx_view")
    ShardedLog.append(s"$root/s", 0, (1 to 500).map(i => (s"k$i", s"k${i % 50}")))
    eng.consumeBegin("ep", "s", "fx_stream", format = "text")
    eng.processAllAvailable()
    ShardedLog.append(s"$root/s", 0, (1 to 100).map(i => (s"m$i", s"k${i % 70}")))
    eng.processAllAvailable()
    eng.consumeEndAll()
    import org.apache.spark.scheduler._
    case class Job(id: Int, stages: Seq[String])
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val inGroup = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffled = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val done = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == "graft-fold:fx_view") {
          jobs.add(Job(e.jobId, e.stageInfos.map(_.name)))
          e.stageIds.foreach(inGroup.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        if (s.taskMetrics != null && s.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffled.add(s.stageId)
        done.add(s.stageId)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      eng.compactViewTable("fx_view")
      val deadline = System.currentTimeMillis() + 20000
      while (System.currentTimeMillis() < deadline &&
             (jobs.isEmpty || !inGroup.stream().allMatch(done.contains(_))))
        Thread.sleep(50)
      Thread.sleep(200)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val group = jobs.asScala.toSeq
    assert(group.nonEmpty, "the fold's jobs run under graft-fold:<view>")
    // a standalone max(__batch) job would add executed stages of its own
    assert(inGroup.asScala.count(done.contains) === 2,
      s"the fold executes one map stage and the write, nothing else: $group")
    assert(shuffled.asScala.count(inGroup.contains) === 1,
      s"one exchange in the fold's merge: $group")
    assert(rowsOf(eng.viewTable("fx_view")) ===
      rowsOf(eng.streamTable("fx_stream").groupBy("payload").count()))
  }

  test("viewTable before the view's first commit is empty, in the view's schema") {
    val root = tmpDir("vt0-root"); val meta = tmpDir("vt0-meta")
    val eng = mkEngine(meta, root, "vt0_stream", "vt0_view")
    new java.io.File(s"$root/s").mkdirs()
    eng.consumeBegin("ep", "s", "vt0_stream", format = "text")
    val empty = eng.viewTable("vt0_view")
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq === Seq("payload", "count"))
    ShardedLog.append(s"$root/s", 0, Seq(("a", "x")))
    eng.processAllAvailable()
    assert(eng.viewTable("vt0_view").collect().map(r => r.getString(0) -> r.getLong(1))
      .toSeq === Seq("x" -> 1L))
    eng.consumeEndAll()
  }

  test("a view declared after consume_begin attaches without a consumer restart") {
    // PipelineDB CVs attach to live streams; here a repeated consume_begin
    // is additive — it starts only the missing queries, leaving running
    // ones untouched, and the late view backfills from the consumer's
    // start position (the log is durable, unlike a PipelineDB stream).
    val root = tmpDir("late-root"); val meta = tmpDir("late-meta")
    ShardedLog.append(s"$root/s", 0, Seq(("a", "x"), ("b", "y"), ("c", "x")))
    val eng = mkEngine(meta, root, "late_stream", "early_view")
    val id = eng.consumeBegin("ep", "s", "late_stream", format = "text")
    eng.processAllAvailable()
    assert(eng.viewTable("early_view").count() === 2)
    val runningBefore = eng.activeQueries.map(_.name).toSet

    eng.createContinuousView("late_view", "late_stream",
      _.groupBy().count())
    assert(eng.consumeBegin("ep", "s", "late_stream", format = "text") === id)
    eng.processAllAvailable()
    assert(eng.activeQueries.map(_.name).toSet ===
      runningBefore + "late_view", "only the missing query was started")
    assert(eng.viewTable("late_view").head().getLong(0) === 3L,
      "late view backfilled the whole log (trim_horizon)")
    // both views keep advancing together
    ShardedLog.append(s"$root/s", 0, Seq(("d", "x")))
    eng.processAllAvailable()
    assert(eng.viewTable("late_view").head().getLong(0) === 4L)
    assert(eng.viewTable("early_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("x" -> 3L, "y" -> 1L))
    eng.consumeEndAll()
  }

  test("merge keys infer through computed grouping expressions (SQL view)") {
    // GROUP BY upper(payload): the grouping expression is not a bare
    // attribute — inference matches it to its select-list alias.
    val root = tmpDir("ck-root"); val meta = tmpDir("ck-meta")
    ShardedLog.append(s"$root/s", 0, Seq(("a", "x"), ("b", "X"), ("c", "y")))
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("ck_stream", StructType(Seq(StructField("payload", StringType))))
    eng.createContinuousViewSql("ck_view", "ck_stream",
      "SELECT upper(payload) AS p, count(*) AS n FROM ck_stream GROUP BY upper(payload)")
    eng.consumeBegin("ep", "s", "ck_stream", format = "text")
    eng.processAllAvailable()
    assert(eng.viewTable("ck_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("X" -> 2L, "Y" -> 1L))
    // and the merge keeps working across another batch
    ShardedLog.append(s"$root/s", 0, Seq(("d", "y")))
    eng.processAllAvailable()
    assert(eng.viewTable("ck_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("X" -> 2L, "Y" -> 2L))
    eng.consumeEndAll()
  }

  test("drop_view / drop_stream / remove_consumer lifecycle") {
    val root = tmpDir("drop-root"); val meta = tmpDir("drop-meta")
    ShardedLog.append(s"$root/s", 0, Seq(("a", "x"), ("b", "y")))
    val eng = mkEngine(meta, root, "dr_stream", "dr_v1")
    eng.createContinuousView("dr_v2", "dr_stream", _.groupBy().count())
    eng.consumeBegin("ep", "s", "dr_stream", format = "text")
    eng.processAllAvailable()
    assert(eng.viewTable("dr_v2").head().getLong(0) === 2L)

    eng.dropView("dr_v2")
    assert(!eng.activeQueries.map(_.name).contains("dr_v2"), "query stopped")
    intercept[Exception](eng.viewTable("dr_v2")) // state deleted
    ShardedLog.append(s"$root/s", 0, Seq(("c", "x")))
    eng.processAllAvailable() // surviving view still advances
    assert(eng.viewTable("dr_v1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("x" -> 2L, "y" -> 1L))

    // re-creating a dropped view starts FRESH (its checkpoints were
    // dropped too): it backfills the whole log, not stale resumed state
    eng.createContinuousView("dr_v2", "dr_stream", _.groupBy().count())
    eng.consumeBegin("ep", "s", "dr_stream", format = "text")
    eng.processAllAvailable()
    assert(eng.viewTable("dr_v2").head().getLong(0) === 3L)
    eng.dropView("dr_v2")

    val e = intercept[IllegalArgumentException](eng.dropStream("dr_stream"))
    assert(e.getMessage.contains("consumers exist"))
    eng.consumeEnd("ep", "s", "dr_stream")
    eng.removeConsumer("ep", "s", "dr_stream")
    eng.dropStream("dr_stream")
    assert(!eng.listStreams.contains("dr_stream"))
    assert(!new java.io.File(s"$meta/tables/dr_stream").exists())
    // a fresh engine over the same metaDir agrees (catalog persisted)
    val eng2 = new KinesisEngine(spark, meta)
    assert(eng2.listStreams.isEmpty && eng2.listConsumers.isEmpty)
  }

  test("sliding view resumes across engine restart (sw meta + checkpoint persist)") {
    val root = tmpDir("swr-root"); val meta = tmpDir("swr-meta")
    val dir = s"$root/s"
    ShardedLog.append(dir, 0, Seq(("a", "x"), ("b", "y")))
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("swr_stream", StructType(Seq(StructField("payload", StringType))))
    eng.createSlidingView("swr_view", "swr_stream", keys = Seq("payload"),
      aggs = Seq("n" -> "count"), width = "1 HOUR", slide = "5 minutes")
    eng.consumeBegin("ep", "s", "swr_stream", format = "text")
    eng.processAllAvailable(); eng.consumeEndAll()

    ShardedLog.append(dir, 0, Seq(("c", "x")))
    // fresh engine, same metaDir, NO re-registration: the sliding view is
    // a catalog object (PipelineDB CVs survive the database restarting) —
    // loadCatalog rebuilds the standing query from the declarative sw meta
    val eng2 = new KinesisEngine(spark, meta)
    eng2.consumeBeginAll()
    eng2.processAllAvailable()
    assert(eng2.slidingViewTable("swr_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("x" -> 2L, "y" -> 1L),
      "resumed from checkpoint: no loss, no double count")
    // staleness probe: records appended AFTER the restart must reach the
    // view without any application code touching it — this is exactly the
    // silent-staleness failure mode the durability closes
    ShardedLog.append(dir, 0, Seq(("d", "z"), ("e", "x")))
    eng2.processAllAvailable()
    assert(eng2.slidingViewTable("swr_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
        Map("x" -> 3L, "y" -> 1L, "z" -> 1L),
      "post-restart appends flow into the restored sliding view")
    eng2.consumeEndAll()
  }

  test("sw count_distinct resumes across restart: sketch partials keep merging") {
    // the HLL partial is a binary sketch column; after an engine restart
    // the bucket's streaming state resumes from the checkpoint and its
    // re-emitted sketch must supersede the old partial in the delta merge
    // — a wrong generation/ordering would double-count or lose users
    val root = tmpDir("swcd-r-root"); val meta = tmpDir("swcd-r-meta")
    val dir = s"$root/s"
    ShardedLog.append(dir, 0, Seq(("a", "x,u1"), ("b", "x,u2"), ("c", "y,u1")))
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("swcdr_stream", StructType(Seq(
      StructField("k", StringType), StructField("usr", StringType))))
    eng.createSlidingView("swcdr_view", "swcdr_stream", keys = Seq("k"),
      aggs = Seq("n_users" -> "count_distinct:usr"),
      width = "1 HOUR", slide = "5 minutes")
    eng.consumeBegin("ep", "s", "swcdr_stream", format = "csv", delimiter = ",")
    eng.processAllAvailable(); eng.consumeEndAll()
    def snap(e: KinesisEngine) = e.slidingViewTable("swcdr_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(snap(eng) === Map("x" -> 2L, "y" -> 1L))

    ShardedLog.append(dir, 0, Seq(("d", "x,u2"), ("e", "x,u3"), ("f", "y,u9")))
    val eng2 = new KinesisEngine(spark, meta) // no re-registration
    eng2.consumeBeginAll()
    eng2.processAllAvailable()
    assert(snap(eng2) === Map("x" -> 3L, "y" -> 2L),
      "restart: u2 still counted once, new users merge into live buckets")
    eng2.consumeEndAll()
  }

  test("ingest at scale: 8 shards × 100k records, exact counts, capped batches") {
    val root = tmpDir("big-root"); val meta = tmpDir("big-meta")
    val nShards = 8; val nRecs = 100000
    for (sh <- 0 until nShards)
      ShardedLog.append(s"$root/s", sh,
        (sh until nRecs by nShards).map(i => (s"k${i % 1000}", s"p${i % 1000}")))
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("big_stream", StructType(Seq(StructField("payload", StringType))))
    eng.createContinuousView("big_view", "big_stream", _.groupBy("payload").count())
    eng.consumeBegin("ep", "s", "big_stream", format = "text",
      batchsize = 20000, parallelism = 8)
    eng.processAllAvailable()
    eng.consumeEndAll()
    val m = eng.viewTable("big_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.size === 1000 && m.values.forall(_ === 100L),
      "every record counted exactly once across shards and capped batches")
    assert(eng.streamTable("big_stream").count() === nRecs.toLong)
    assert(eng.seqnums.collect().map(_.getLong(2)).sum === nRecs.toLong,
      "committed seqnums add up to the full stream")
  }

  test("two consumers on one relation: table unions, view queries stay singletons") {
    // the reference lets several consumers COPY into one stream; here each
    // gets its own table-append query (union semantics) while view
    // queries must NOT be duplicated — a second update stream with an
    // independent checkpoint would interleave conflicting batch ids into
    // the same delta log.
    val root = tmpDir("mc-root"); val meta = tmpDir("mc-meta")
    ShardedLog.append(s"$root/s1", 0, Seq(("a", "x"), ("b", "y")))
    ShardedLog.append(s"$root/s2", 0, Seq(("c", "z")))
    val eng = mkEngine(meta, root, "mc_stream", "mc_view")
    val id1 = eng.consumeBegin("ep", "s1", "mc_stream", format = "text")
    val id2 = eng.consumeBegin("ep", "s2", "mc_stream", format = "text")
    assert(id1 !== id2)
    eng.processAllAvailable()
    // stream table = union of both consumers' streams
    assert(eng.streamTable("mc_stream").count() === 3L)
    // exactly one standing query named mc_view across both consumers
    assert(eng.activeQueries.count(_.name == "mc_view") === 1)
    // the view is maintained from consumer 1's stream only (documented)
    assert(eng.viewTable("mc_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("x" -> 1L, "y" -> 1L))
    eng.consumeEndAll()
  }

  test("stateless (no-aggregate) views materialize append-only") {
    val root = tmpDir("st-root"); val meta = tmpDir("st-meta")
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("st_stream", StructType(Seq(StructField("payload", StringType))))
    // a transform, not an aggregate: CREATE CONTINUOUS TRANSFORM parity
    eng.createContinuousTransform("st_view", "st_stream",
      _.select(upper(col("payload")).as("p")))
    ShardedLog.append(s"$root/s", 0, Seq(("a", "x"), ("b", "y")))
    eng.consumeBegin("ep", "s", "st_stream", format = "text")
    eng.processAllAvailable()
    ShardedLog.append(s"$root/s", 0, Seq(("c", "z")))
    eng.processAllAvailable()
    assert(eng.viewTable("st_view").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("X", "Y", "Z"), "every row kept — append semantics, no merge")
    eng.consumeEndAll()
  }

  test("stateless transform replay (crash before commit) does not duplicate rows") {
    val root = tmpDir("ix-root"); val meta = tmpDir("ix-meta")
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("ix_stream", StructType(Seq(StructField("payload", StringType))))
    eng.createContinuousTransform("ix_view", "ix_stream",
      _.select(upper(col("payload")).as("p")))
    ShardedLog.append(s"$root/s", 0, Seq(("a", "x"), ("b", "y")))
    val id = eng.consumeBegin("ep", "s", "ix_stream", format = "text")
    eng.processAllAvailable()
    ShardedLog.append(s"$root/s", 0, Seq(("c", "z")))
    eng.processAllAvailable()
    eng.consumeEndAll()
    assert(eng.viewTable("ix_view").count() === 3L)
    // simulate a crash between the delta write and the checkpoint commit
    // of the LAST batch: drop its commit record — on restart Spark
    // re-runs that batch with the SAME batch id against the same offsets
    val commits = java.nio.file.Paths.get(meta, "checkpoints", id.toString,
      "ix_view", "commits")
    val toDrop = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(commits)
      try s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.forall(_.isDigit))
        .maxBy(_.getFileName.toString.toLong)
      finally s.close()
    }
    java.nio.file.Files.delete(toDrop)
    // ChecksumFileSystem keeps a .N.crc sibling; a stale one makes the
    // replayed commit's rename fail as a phantom concurrent-writer error
    java.nio.file.Files.deleteIfExists(
      toDrop.resolveSibling("." + toDrop.getFileName + ".crc"))
    val eng2 = new KinesisEngine(spark, meta)
    // transform views are closures → re-registered like application code
    eng2.createContinuousTransform("ix_view", "ix_stream",
      _.select(upper(col("payload")).as("p")))
    eng2.consumeBeginAll()
    eng2.processAllAvailable()
    eng2.consumeEndAll()
    assert(eng2.viewTable("ix_view").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("X", "Y", "Z"),
      "replayed batch overwrote its own delta dir — no duplication")
  }

  test("TTL expiry drops dead date partitions whole, hard-links live ones untouched") {
    val root = tmpDir("ttl-root"); val meta = tmpDir("ttl-meta")
    val dir = s"$root/s"
    val zone = java.time.ZoneId.systemDefault()
    val todayMid = java.time.LocalDate.now(zone).atStartOfDay(zone)
      .toInstant.toEpochMilli
    val day = 86400 * 1000L; val hour = 3600 * 1000L
    def put(recs: Seq[(String, String)], at: Long): Unit =
      ShardedLog.appendBytes(dir, 0,
        recs.map { case (k, v) => (k, v.getBytes("UTF-8")) }, arrivalMillis = at)
    // cutoff will be (today−1) 12:00 — three partition fates:
    put(Seq(("a", "dead")), todayMid - 2 * day + 10 * hour)         // drop whole
    put(Seq(("b", "boundary-old")), todayMid - day + 11 * hour)     // filtered out
    put(Seq(("c", "boundary-new")), todayMid - day + 13 * hour)     // rewritten, kept
    put(Seq(("d", "live")), System.currentTimeMillis())             // linked untouched
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("ttl_stream", StructType(Seq(StructField("payload", StringType))))
    eng.consumeBegin("ep", "s", "ttl_stream", format = "text")
    eng.processAllAvailable() // consumer stays RUNNING through the reap
    def parts(d: String): Seq[String] = new java.io.File(d).listFiles()
      .filter(_.getName.startsWith("__arrival_date=")).map(_.getName).sorted.toSeq
    val cur = eng.tableDataDir("ttl_stream")
    assert(parts(cur).size === 3, "3 date partitions ingested")
    val liveName = parts(cur).last
    val liveBefore = new java.io.File(cur, liveName).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toPath).sortBy(_.toString).toSeq
    assert(liveBefore.nonEmpty)
    val ttlMs = System.currentTimeMillis() - (todayMid - day + 12 * hour)
    eng.expireStreamTable("ttl_stream", s"$ttlMs MILLISECONDS", targetPartitions = 1)
    val cur2 = eng.tableDataDir("ttl_stream")
    assert(cur2 !== cur, "versioned swap")
    assert(!parts(cur2).contains(parts(cur).head), "dead partition dropped whole")
    val liveAfter = new java.io.File(cur2, liveName).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toPath).sortBy(_.toString).toSeq
    assert(liveBefore.map(_.getFileName.toString) ===
           liveAfter.map(_.getFileName.toString),
      "live partition carries the same file listing")
    assert(liveBefore.zip(liveAfter).forall { case (a, b) =>
        java.nio.file.Files.isSameFile(a, b) },
      "live partition files are hard links — same inodes, zero rewrite")
    assert(eng.streamTable("ttl_stream").collect()
      .map(_.getString(0)).sorted.toSeq === Seq("boundary-new", "live"),
      "only the boundary partition was filtered; dead rows gone")
    // the running consumer keeps ingesting into the new version
    put(Seq(("e", "post")), System.currentTimeMillis())
    eng.processAllAvailable()
    assert(eng.streamTable("ttl_stream").count() === 3L)
    eng.consumeEndAll()
  }

  test("output streams chain continuous views (CV over CV)") {
    val root = tmpDir("os-root"); val meta = tmpDir("os-meta")
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.addEndpoint("out", "r", url = s"$meta/outputs")
    eng.createStream("os_stream", StructType(Seq(StructField("payload", StringType))))
    eng.createContinuousView("os_v1", "os_stream", _.groupBy("payload").count())
    eng.createOutputStream("os_v1") // PipelineDB output_of('os_v1')
    eng.createStream("os_updates", StructType(Seq(
      StructField("payload", StringType), StructField("count", LongType))))
    eng.createContinuousView("os_v2", "os_updates",
      _.groupBy("payload").agg(max(col("count")).as("latest"),
                               count(lit(1)).as("n_updates")))
    ShardedLog.append(s"$root/s", 0, Seq(("a", "x"), ("b", "x"), ("c", "y")))
    eng.consumeBegin("ep", "s", "os_stream", format = "text")
    eng.processAllAvailable() // hop 1: os_v1 aggregates, emits updates
    eng.consumeBegin("out", "os_v1", "os_updates", format = "json")
    eng.processAllAvailable() // hop 2: os_v2 consumes the update stream
    val v2 = eng.viewTable("os_v2").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(v2 === Map("x" -> ((2L, 1L)), "y" -> ((1L, 1L))),
      "downstream view sees each group's emitted value exactly once")
    ShardedLog.append(s"$root/s", 0, Seq(("d", "x")))
    eng.processAllAvailable(); eng.processAllAvailable() // two hops
    val v2b = eng.viewTable("os_v2").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(v2b === Map("x" -> ((3L, 2L)), "y" -> ((1L, 1L))),
      "a new source record propagates through the whole pipeline: " +
        "x's update event arrives downstream with the new count")
    eng.consumeEndAll()
  }

  test("createStream refuses a schema change under existing consumers") {
    val root = tmpDir("scg-root"); val meta = tmpDir("scg-meta")
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    val one = StructType(Seq(StructField("payload", StringType)))
    eng.createStream("scg_stream", one)
    ShardedLog.append(s"$root/s", 0, Seq(("a", "x")))
    eng.consumeBegin("ep", "s", "scg_stream", format = "text")
    eng.processAllAvailable()
    eng.createStream("scg_stream", one) // same schema: idempotent no-op
    val e = intercept[IllegalArgumentException](eng.createStream("scg_stream",
      StructType(Seq(StructField("payload", StringType),
                     StructField("extra", IntegerType)))))
    assert(e.getMessage.contains("consumers"))
    eng.consumeEnd("ep", "s", "scg_stream")
    eng.removeConsumer("ep", "s", "scg_stream")
    eng.createStream("scg_stream", StructType(Seq(
      StructField("payload", StringType), StructField("extra", IntegerType))))
    assert(eng.listStreams("scg_stream").fieldNames.toSeq ===
      Seq("payload", "extra"), "schema change allowed once consumers are gone")
    assert(!new java.io.File(s"$meta/tables/scg_stream").exists(),
      "old-shape stream table truncated with the schema change — new " +
        "readers never see rows the new schema cannot decode")
  }

  test("TTL expiry fails fast on a flat pre-partitioned table layout") {
    val meta = tmpDir("flat-meta")
    val eng = new KinesisEngine(spark, meta)
    eng.createStream("flat_stream", StructType(Seq(StructField("payload", StringType))))
    import spark.implicits._
    // simulate a legacy layout: flat parquet files at the data-dir root
    Seq(("x", new java.sql.Timestamp(System.currentTimeMillis())))
      .toDF("payload", "arrival_timestamp")
      .coalesce(1).write.mode("append").parquet(eng.tableDataDir("flat_stream"))
    val e = intercept[IllegalStateException](
      eng.expireStreamTable("flat_stream", "1 HOUR"))
    assert(e.getMessage.contains("compactStreamTable"),
      "partition-based expiry over a layout with no partitions would " +
        "silently drop every row — it must refuse with the migration step")
    // the documented migration: one compaction rewrites partitioned
    eng.compactStreamTable("flat_stream", targetPartitions = 1)
    eng.expireStreamTable("flat_stream", "1 HOUR")
    assert(eng.streamTable("flat_stream").count() === 1L)
  }

  test("DEACTIVATE pauses one view; ACTIVATE resumes it and catches up losslessly") {
    val root = tmpDir("act-root"); val meta = tmpDir("act-meta")
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("act_stream", StructType(Seq(StructField("payload", StringType))))
    // SQL-declared so both views restore from the catalog after the
    // engine restart below (closure views don't survive a restart)
    eng.sql("CREATE CONTINUOUS VIEW act_v1 AS " +
      "SELECT payload, count(*) AS n FROM act_stream GROUP BY payload")
    eng.sql("CREATE CONTINUOUS VIEW act_v2 AS " +
      "SELECT payload, count(*) AS n FROM act_stream GROUP BY payload")
    def viewMap(name: String, e: KinesisEngine) = e.viewTable(name).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ShardedLog.append(s"$root/s", 0, Seq(("a", "x")))
    eng.consumeBegin("ep", "s", "act_stream", format = "text")
    eng.processAllAvailable()
    assert(viewMap("act_v1", eng) === Map("x" -> 1L))
    eng.sql("DEACTIVATE act_v1")
    ShardedLog.append(s"$root/s", 0, Seq(("b", "x"), ("c", "y")))
    eng.processAllAvailable()
    assert(viewMap("act_v2", eng) === Map("x" -> 2L, "y" -> 1L),
      "sibling views keep maintaining while one is deactivated")
    assert(viewMap("act_v1", eng) === Map("x" -> 1L),
      "a deactivated view stays queryable at its paused state")
    eng.sql("ACTIVATE act_v1")
    eng.processAllAvailable()
    assert(viewMap("act_v1", eng) === Map("x" -> 2L, "y" -> 1L),
      "reactivation catches up from the durable log — unlike PipelineDB, " +
        "rows arriving while deactivated are not lost")
    // the flag survives an engine restart: consume_begin_all leaves the
    // view paused until an explicit ACTIVATE
    eng.deactivate("act_v1")
    eng.consumeEndAll()
    val eng2 = new KinesisEngine(spark, meta)
    eng2.consumeBeginAll()
    ShardedLog.append(s"$root/s", 0, Seq(("d", "y")))
    eng2.processAllAvailable()
    assert(viewMap("act_v1", eng2) === Map("x" -> 2L, "y" -> 1L))
    assert(viewMap("act_v2", eng2) === Map("x" -> 2L, "y" -> 2L))
    eng2.activate("act_v1")
    eng2.processAllAvailable()
    assert(viewMap("act_v1", eng2) === Map("x" -> 2L, "y" -> 2L),
      "post-restart reactivation still resumes from the retained checkpoint")
    eng2.consumeEndAll()
  }

  test("output-stream emission of a large touched-group batch stays executor-staged") {
    val root = tmpDir("obig-root"); val meta = tmpDir("obig-meta")
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("ob_stream", StructType(Seq(StructField("payload", StringType))))
    eng.createContinuousView("ob_v1", "ob_stream", _.groupBy("payload").count())
    eng.createOutputStream("ob_v1")
    // one trigger touching 20k distinct groups — the emission shape of a
    // generation-bump backfill recomputing a whole view
    val n = 20000
    ShardedLog.append(s"$root/s", 0,
      (1 to n).map(i => (s"k$i", f"g$i%06d")))
    val splicedBefore = ShardedLog.bytesSpliced.get()
    eng.consumeBegin("ep", "s", "ob_stream", format = "text",
      batchsize = n.toLong)
    eng.processAllAvailable()
    eng.consumeEndAll()
    val pos = ShardedLog.latestPositions(s"$meta/outputs/ob_v1")
    assert(pos.values.map(_.recs).sum === n.toLong,
      "every touched group's update reached the output log")
    // accounting proof that no row rode a driver collect: every record
    // byte in the output log (minus the magic header) arrived through the
    // executor-staged splice path
    val logBytes = pos.values.map(_.bytes).sum - ShardedLog.HEADER
    assert(ShardedLog.bytesSpliced.get() - splicedBefore === logBytes,
      "emitted bytes must all travel the staged appendFramedFiles path")
    // staging is transient: no leftover stage dirs next to the shard log
    val leftovers = Option(new java.io.File(s"$meta/outputs/ob_v1").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith(".stage-"))
    assert(leftovers.isEmpty, "stage dirs are removed after the splice")
    // and the emitted records are well-formed JSON group updates
    val sample = spark.read.format(ShardedLog.FORMAT)
      .option("path", s"$meta/outputs/ob_v1").load()
      .selectExpr("cast(data AS STRING) AS j")
      .selectExpr("get_json_object(j, '$.payload') AS payload",
        "cast(get_json_object(j, '$.count') AS LONG) AS count")
    assert(sample.where(col("payload").isNull || col("count") =!= 1L)
      .count() === 0L, "every update parses with the view's schema")
  }

  test("output-stream emission is not duplicated when a batch replays") {
    val root = tmpDir("ohwm-root"); val meta = tmpDir("ohwm-meta")
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("oh_stream", StructType(Seq(StructField("payload", StringType))))
    eng.createContinuousViewSql("oh_v1", "oh_stream",
      "SELECT payload, count(*) AS n FROM oh_stream GROUP BY payload")
    eng.createOutputStream("oh_v1")
    ShardedLog.append(s"$root/s", 0, Seq(("a", "x")))
    val id = eng.consumeBegin("ep", "s", "oh_stream", format = "text")
    eng.processAllAvailable()
    ShardedLog.append(s"$root/s", 0, Seq(("b", "y")))
    eng.processAllAvailable()
    eng.consumeEndAll()
    def outRecs: Long = ShardedLog.latestPositions(s"$meta/outputs/oh_v1")
      .values.map(_.recs).sum
    val before = outRecs
    assert(before >= 2L, "both batches emitted updates")
    // crash between delta write and checkpoint commit: drop the last commit
    val commits = java.nio.file.Paths.get(meta, "checkpoints", id.toString,
      "oh_v1", "commits")
    val toDrop = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(commits)
      try s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.forall(_.isDigit))
        .maxBy(_.getFileName.toString.toLong)
      finally s.close()
    }
    java.nio.file.Files.delete(toDrop)
    java.nio.file.Files.deleteIfExists(
      toDrop.resolveSibling("." + toDrop.getFileName + ".crc"))
    val eng2 = new KinesisEngine(spark, meta) // SQL view restores from catalog
    eng2.consumeBeginAll()
    eng2.processAllAvailable()
    eng2.consumeEndAll()
    assert(outRecs === before,
      "the replayed batch was suppressed by the output high-water mark — " +
        "downstream consumers never double-count it")
  }

  test("slidingView prunes dead date partitions at scan time") {
    val root = tmpDir("prune-root"); val meta = tmpDir("prune-meta")
    val dir = s"$root/s"
    ShardedLog.appendBytes(dir, 0, Seq(("a", "old".getBytes("UTF-8"))),
      arrivalMillis = System.currentTimeMillis() - 3L * 86400 * 1000)
    ShardedLog.appendBytes(dir, 0, Seq(("b", "new".getBytes("UTF-8"))),
      arrivalMillis = System.currentTimeMillis())
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("pr_stream", StructType(Seq(StructField("payload", StringType))))
    eng.consumeBegin("ep", "s", "pr_stream", format = "text")
    eng.processAllAvailable(); eng.consumeEndAll()
    val df = eng.slidingView("pr_stream", "1 HOUR")
    assert(df.collect().map(_.getString(0)).toSeq === Seq("new"))
    // the window filter must reach the scan as a PARTITION filter — a
    // 5-minute window over a year of history reads a day, not the table
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
           plan.split("PartitionFilters", 2)(1).takeWhile(_ != ']')
             .contains("__arrival_date"),
      s"expected __arrival_date in PartitionFilters:\n$plan")
  }

  test("active-partition table compaction folds small files, never rewrites history") {
    val root = tmpDir("tpc-root"); val meta = tmpDir("tpc-meta")
    val dir = s"$root/s"
    // autoCompactEvery=2: the engine folds the active partition online
    val eng = new KinesisEngine(spark, meta, autoCompactEvery = 2)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("tpc_stream", StructType(Seq(StructField("payload", StringType))))
    ShardedLog.appendBytes(dir, 0, Seq(("a", "old".getBytes("UTF-8"))),
      arrivalMillis = System.currentTimeMillis() - 3L * 86400 * 1000)
    eng.consumeBegin("ep", "s", "tpc_stream", format = "text")
    eng.processAllAvailable()
    def parts(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.startsWith("__arrival_date=")).map(_.getName).sorted.toSeq
    val oldPart = parts(eng.tableDataDir("tpc_stream")).head
    // capture (name, inode): version dirs come and go under grace
    // cleanup, but a hard-linked carry-over preserves the inode
    def inodes(dir: java.io.File): Seq[(String, Any)] =
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName ->
          java.nio.file.Files.getAttribute(f.toPath, "unix:ino"))
        .sortBy(_._1).toSeq
    val oldFiles = inodes(
      new java.io.File(eng.tableDataDir("tpc_stream"), oldPart))
    for (i <- 1 to 5) { // 5 more batches, all landing today
      ShardedLog.append(dir, 0, Seq((s"k$i", s"v$i")))
      eng.processAllAvailable()
    }
    val cur = eng.tableDataDir("tpc_stream")
    assert(!cur.endsWith("data-0"),
      "auto partition-compaction advanced the table version during ingest")
    val active = parts(cur).last
    val activeFiles = new java.io.File(cur, active).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(activeFiles < 5, s"active partition folded ($activeFiles files)")
    val oldAfter = inodes(new java.io.File(cur, oldPart))
    assert(oldFiles === oldAfter,
      "historical partition carried by hard link across compactions — " +
        "same file names, same inodes, zero rewrite")
    assert(eng.streamTable("tpc_stream").count() === 6L, "no rows lost")
    eng.consumeEndAll()
  }

  test("re-created consumer (fresh checkpoint) never serves stale aggregates") {
    // ADVICE r4: removeConsumer deletes checkpoints but keeps surviving
    // view deltas; a re-created consumer restarts batch ids at 0, and
    // without generation epochs its fresh writes would lose the
    // newest-per-key merge to the old lineage's higher batch ids
    val root = tmpDir("gen-root"); val meta = tmpDir("gen-meta")
    val eng = mkEngine(meta, root, "gen_stream", "gen_view")
    ShardedLog.append(s"$root/s", 0, Seq(("a", "x"), ("b", "x"), ("c", "y")))
    eng.consumeBegin("ep", "s", "gen_stream", format = "text")
    eng.processAllAvailable()
    eng.consumeEnd("ep", "s", "gen_stream")
    eng.removeConsumer("ep", "s", "gen_stream")
    ShardedLog.append(s"$root/s", 0, Seq(("d", "y")))
    eng.consumeBegin("ep", "s", "gen_stream", format = "text")
    eng.processAllAvailable()
    assert(eng.viewTable("gen_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
        Map("x" -> 2L, "y" -> 2L),
      "the new lineage's backfill wins the merge immediately — newly " +
        "ingested records are visible, not masked by stale deltas")
    eng.consumeEndAll()
  }

  test("TTL expiry and partition compaction recover from a crash-leftover version dir") {
    // ADVICE r5: a crash after data-<v+1> is created/partially populated
    // but BEFORE the pointer flip leaves an unreferenced dir; the retry
    // re-resolves the same version number and the hard-link carry must not
    // wedge on the leftover files (compaction runs inside the table sink's
    // foreachBatch, so a wedge would fail every subsequent batch)
    val root = tmpDir("cr-root"); val meta = tmpDir("cr-meta")
    val dir = s"$root/s"
    ShardedLog.appendBytes(dir, 0, Seq(("a", "old".getBytes("UTF-8"))),
      arrivalMillis = System.currentTimeMillis() - 3L * 86400 * 1000)
    ShardedLog.append(dir, 0, Seq(("b", "live")))
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("cr_stream", StructType(Seq(StructField("payload", StringType))))
    eng.consumeBegin("ep", "s", "cr_stream", format = "text")
    eng.processAllAvailable(); eng.consumeEndAll()
    def plantLeftover(): Unit = {
      val cur = java.nio.file.Paths.get(eng.tableDataDir("cr_stream"))
      val v = cur.getFileName.toString.stripPrefix("data-").toLong
      val leftover = cur.resolveSibling(s"data-${v + 1}")
      // worst case: the dead run already hard-linked a live partition —
      // the same names the retry will link again
      new java.io.File(cur.toString).listFiles()
        .filter(_.getName.startsWith("__arrival_date=")).foreach { p =>
          val dst = leftover.resolve(p.getName)
          java.nio.file.Files.createDirectories(dst)
          p.listFiles().foreach(f =>
            java.nio.file.Files.createLink(dst.resolve(f.getName), f.toPath))
        }
    }
    plantLeftover()
    eng.expireStreamTable("cr_stream", "1 HOUR", targetPartitions = 1)
    assert(eng.streamTable("cr_stream").collect()
      .map(_.getString(0)).toSeq === Seq("live"),
      "expiry succeeded over the leftover and dropped the dead partition")
    plantLeftover()
    val active = new java.io.File(eng.tableDataDir("cr_stream")).listFiles()
      .filter(_.getName.startsWith("__arrival_date=")).map(_.getName).max
      .stripPrefix("__arrival_date=")
    eng.compactStreamTablePartition("cr_stream", active, targetPartitions = 1)
    assert(eng.streamTable("cr_stream").collect()
      .map(_.getString(0)).toSeq === Seq("live"),
      "partition compaction succeeded over the leftover, no rows lost")
  }
}
