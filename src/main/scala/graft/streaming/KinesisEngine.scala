package graft.streaming

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.chaining._

import graft.sources.ShardedLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

/** Control-plane facade with the reference extension's API surface
  * (reference pipeline_kinesis--0.9.0.sql:33-83), re-expressed as plain
  * Scala methods over Structured Streaming:
  *
  *  - `addEndpoint`/`removeEndpoint` — endpoints catalog (C1/C2;
  *    pipeline_kinesis.c:120-188). `url` points at a sharded-log root dir.
  *  - `createStream` — CREATE STREAM: a named relation schema; the
  *    implicit `arrival_timestamp` column is injected at ingest and never
  *    user-supplied (pipeline_kinesis.c:249-256). Arrival time is the
  *    PER-RECORD timestamp fixed when the record was put
  *    (kinesis_consumer.cpp:485-489) — replaying a batch reproduces
  *    identical rows, timestamps included.
  *  - `createContinuousView` — a standing aggregation over a stream
  *    (PipelineDB CV, reference README.md:66). Default materialization is
  *    INCREMENTAL: the view runs in update mode and each micro-batch
  *    appends only the changed groups as a parquet delta; [[viewTable]]
  *    merges deltas at read time (last write per group key wins) and the
  *    engine folds the log ONLINE every `autoCompactEvery` batches
  *    (versioned dirs + atomic pointer — no consumer stop; see
  *    [[compactViewTable]]). The fold runs OFF the trigger path: the
  *    cadence trigger hands it to one engine-owned background thread and
  *    returns, and the view's appends wait only for the fold's short
  *    carry-and-flip step, never for its merge. Per-trigger sink cost is
  *    O(groups touched by the batch), never O(all groups) — PipelineDB's
  *    in-place CV update semantics (README.md:78-88) at Spark scale.
  *    Appends are atomic (each delta file appears wholesale), so readers
  *    never observe a partial snapshot. `materialize = "memory"` is the
  *    opt-in complete-mode snapshot, cached DISTRIBUTED across executor
  *    block managers (never driver-resident); its per-trigger cost is
  *    O(all groups), which is why parquet/update is the default.
  *  - `consumeBegin`/`consumeEnd`(`All`) — upsert the consumer (C3),
  *    start/stop one StreamingQuery per continuous view on the target
  *    relation (the bgworker-launch analog, pipeline_kinesis.c:774-823;
  *    query handles play the shmem-registry role, D5). `parallelism` maps
  *    to the source's task grouping: N shards read by ≤ parallelism tasks,
  *    the reference's worker-process knob (pipeline_kinesis.c:439-451).
  *  - `seqnums` — per-(consumer, shard) next sequence number, read from
  *    the streaming checkpoint's *committed* batches only (commit-gated,
  *    like the reference's upsert-after-COPY), plus
  *    `records_behind_latest` and `millis_behind_latest` — the
  *    observability view of pipeline_kinesis--0.9.0.sql:26-31 /
  *    README.md:119-126 with the exact millisBehindLatest metric of
  *    kinesis_consumer.cpp:446-465 (now − arrival time of the first
  *    unconsumed record). Tip discovery runs through a monotone per-stream
  *    tail cache, so polling seqnums costs O(appended delta), not O(log).
  *
  * Catalog durability: endpoints, consumers, stream schemas, SQL-declared
  * views AND sliding views all persist under metaDir (format-versioned
  * TSV — an unversioned/older metaDir fails fast instead of mis-decoding)
  * — a fresh engine over the same metaDir resumes ingestion with
  * `consumeBeginAll()` alone (pipeline_kinesis.c:1038-1079). Sliding
  * views are rebuilt from their declarative sw meta; only plain
  * closure-based views are application code and must be re-registered.
  *
  * Delivery: the reference commits seqnums in a second transaction after
  * COPY (at-least-once, with poison batches dropped —
  * pipeline_kinesis.c:738-758). Here source replay + checkpointed state
  * give exactly-once view updates; parse failures are PERMISSIVE (nulls),
  * not batch drops. A retried micro-batch of a MERGE view appends a
  * byte-identical delta (same offsets → same aggregate rows), which the
  * read-time merge collapses; a retried batch of a STATELESS TRANSFORM
  * overwrites its own per-batch delta dir (or is skipped if already
  * folded by compaction) — both view kinds read idempotent under replay.
  */
class KinesisEngine(spark: SparkSession, metaDir: String,
                    autoCompactEvery: Int = 64) {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[KinesisEngine])

  case class Endpoint(name: String, region: String, credfile: String, url: String)
  case class Consumer(id: Int, endpoint: String, stream: String, relation: String,
                      format: String, delimiter: String, quote: String, escape: String,
                      batchsize: Long, parallelism: Int, startSeq: Long,
                      pollMs: Long = 0L)

  private case class View(relation: String, agg: DataFrame => DataFrame,
                          materialize: String, sql: Option[String],
                          keys: Option[Seq[String]])

  private val endpoints = mutable.LinkedHashMap[String, Endpoint]()
  private val streams = mutable.LinkedHashMap[String, StructType]()
  private val views = mutable.LinkedHashMap[String, View]()
  private val consumers = mutable.LinkedHashMap[(String, String, String), Consumer]()
  private val running = mutable.LinkedHashMap[Int, Seq[StreamingQuery]]()
  private val tails = mutable.Map[String, ShardedLog.TailCache]()
  // memory-materialized views: the current cached snapshot per view, kept
  // so the previous generation can be unpersisted after each swap
  private val memSnaps = mutable.Map[String, DataFrame]()
  // views already warned about a malformed graft.view.delta.files value
  private val deltaFilesWarned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private var nextId = 1

  Files.createDirectories(Paths.get(metaDir))
  loadCatalog()

  // --- catalog persistence (the reference's endpoints/consumers tables
  // plus stream schemas and SQL view definitions,
  // pipeline_kinesis--0.9.0.sql:4-24): format-versioned tab-separated rows
  // under metaDir so a fresh engine over the same metaDir restarts
  // ingestion from the catalog alone (consume_begin_all parity,
  // pipeline_kinesis.c:1038-1079). Only SQL-declared views persist — a
  // closure view is application code and must be re-registered by that
  // code, like any UDF.

  // EVERY string field is base64-wrapped: the csv delimiter defaults to a
  // literal tab, and user-chosen names (endpoint/stream/relation/format)
  // may themselves contain tab or newline — either would corrupt a
  // tab-separated catalog row.
  private def esc(s: String): String =
    if (s == null) "-"
    else java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unesc(s: String): String =
    if (s == "-") null
    else new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** First line of every catalog TSV. Bumped whenever the row format
    * changes; a file without the current marker (e.g. written by an older
    * build that stored raw names) fails fast with a migration error
    * instead of base64-decoding raw names into garbage. */
  // a def, not a val: the constructor runs loadCatalog() before class-body
  // vals below the constructor statements would have been initialized
  private def CatalogVersion = "#graft-catalog-v1"

  private def saveCatalog(): Unit = {
    // atomic per file: a crash mid-save leaves the old complete file,
    // never a torn one (the multi-file save is still not transactional
    // across files — seqnums degrades gracefully on a consumer row whose
    // endpoint is missing).
    def save(file: String, rows: Iterable[String]): Unit =
      writeAtomic(Paths.get(metaDir, file),
        (CatalogVersion +: rows.toSeq).mkString("\n"))
    save("endpoints.tsv", endpoints.values.map(e =>
      Seq(esc(e.name), esc(e.region), esc(e.credfile), esc(e.url)).mkString("\t")))
    save("consumers.tsv", consumers.values.map(c =>
      Seq(c.id.toString, esc(c.endpoint), esc(c.stream), esc(c.relation),
          esc(c.format), esc(c.delimiter), esc(c.quote), esc(c.escape),
          c.batchsize.toString, c.parallelism.toString, c.startSeq.toString,
          c.pollMs.toString)
        .mkString("\t")))
    save("streams.tsv", streams.map { case (rel, schema) =>
      Seq(esc(rel), esc(schema.json)).mkString("\t")
    })
    save("views.tsv", views.collect { case (name, v) if v.sql.isDefined =>
      Seq(esc(name), esc(v.relation), esc(v.sql.get), esc(v.materialize))
        .mkString("\t")
    })
  }

  private def loadCatalog(): Unit = {
    def rows(file: String): Seq[Array[String]] = {
      val p = Paths.get(metaDir, file)
      if (!Files.exists(p)) Nil
      else {
        val lines = Files.readString(p).split("\n", -1).toSeq
        if (lines.head != CatalogVersion)
          throw new IllegalStateException(
            s"$p: unrecognized catalog format (expected '$CatalogVersion' " +
              "header line). This metaDir was written by an incompatible " +
              "graft version — migrate or remove it before starting the engine.")
        lines.tail.filter(_.nonEmpty).map(_.split("\t", -1))
      }
    }
    rows("endpoints.tsv").foreach { f =>
      val name = unesc(f(0))
      endpoints(name) = Endpoint(name, unesc(f(1)), unesc(f(2)), unesc(f(3)))
    }
    rows("consumers.tsv").foreach { f =>
      // pollMs is a trailing OPTIONAL column: v1 rows written before the
      // knob existed lack it (default 0 = unpaced), and older engines
      // reading a newer catalog simply ignore it — no version bump needed
      val c = Consumer(f(0).toInt, unesc(f(1)), unesc(f(2)), unesc(f(3)),
        unesc(f(4)), unesc(f(5)), unesc(f(6)), unesc(f(7)), f(8).toLong,
        f(9).toInt, f(10).toLong,
        pollMs = if (f.length > 11) f(11).toLong else 0L)
      consumers((c.endpoint, c.stream, c.relation)) = c
      nextId = math.max(nextId, c.id + 1)
    }
    rows("streams.tsv").foreach { f =>
      streams(unesc(f(0))) =
        org.apache.spark.sql.types.DataType.fromJson(unesc(f(1)))
          .asInstanceOf[StructType]
    }
    rows("views.tsv").foreach { f =>
      val (name, relation, sql, mat) =
        (unesc(f(0)), unesc(f(1)), unesc(f(2)), unesc(f(3)))
      views(name) = View(relation, sqlAgg(relation, sql), mat, Some(sql), None)
    }
    // Sliding views are catalog objects too (PipelineDB CVs survive the
    // database restarting — reference README.md:66,78-88): their spec is
    // fully declarative and already on disk as sw meta, so rebuild the
    // standing aggregate from it. Without this, a fresh engine +
    // consumeBeginAll() would silently stop maintaining the view.
    listDir(Paths.get(metaDir, "views"))
      .filter(d => Files.exists(d.resolve("_graft_sw")))
      .foreach { d =>
        val name = d.getFileName.toString
        val m = readSwMeta(name)
        views(name) = View(m.relation,
          swClosure(m.keys, m.aggs, m.width, m.slide),
          "parquet", None, Some("__bucket" +: m.keys))
      }
  }

  // --- catalog (C1/C2/C3) -------------------------------------------------

  /** Catalog inspection (the reference's SELECT over pipeline_kinesis
    * catalog tables). */
  def listEndpoints: Seq[Endpoint] = synchronized(endpoints.values.toSeq)
  def listConsumers: Seq[Consumer] = synchronized(consumers.values.toSeq)
  def listStreams: Map[String, StructType] = synchronized(streams.toMap)
  def listViewSql: Map[String, String] =
    synchronized(views.collect { case (n, v) if v.sql.isDefined => n -> v.sql.get }.toMap)

  def addEndpoint(name: String, region: String, credfile: String = null,
                  url: String = null): Unit = synchronized {
    endpoints(name) = Endpoint(name, region, credfile, url)
    saveCatalog()
  }

  def removeEndpoint(name: String): Unit = synchronized {
    require(!consumers.valuesIterator.exists(c =>
        c.endpoint == name && running.contains(c.id)),
      s"endpoint $name has running consumers")
    endpoints.remove(name)
    saveCatalog()
  }

  def createStream(relation: String, schema: StructType): Unit = synchronized {
    require(!schema.fieldNames.contains("arrival_timestamp"),
      "arrival_timestamp is implicit and cannot be declared") // pipeline_kinesis.c:249-256
    // re-declaring with the SAME schema is an idempotent no-op; CHANGING
    // the schema under existing consumers is refused — their running
    // parse and the already-written stream table would silently disagree
    // with new readers (ALTER-under-dependents, which Postgres refuses too)
    val changed = streams.get(relation).exists(_ != schema)
    require(!changed || !consumers.valuesIterator.exists(_.relation == relation),
      s"stream '$relation' has consumers — consume_end and remove them " +
        "before changing its schema")
    // a changed schema also invalidates the persisted stream table (its
    // parquet rows are in the OLD shape — reading them through the new
    // schema throws or silently nulls): truncate it, like an incompatible
    // ALTER forcing a rewrite
    if (changed) rmTree(Paths.get(metaDir, "tables", relation).toFile)
    streams(relation) = schema
    saveCatalog()
  }

  /** Registered continuous-view names (the reference's `pipeline_views()`
    * catalog listing, pipeline_kinesis--0.9.0.sql's CV catalog). */
  def listViews: Seq[String] = synchronized(views.keys.toSeq)

  /** DROP CONTINUOUS VIEW parity: stop the view's standing query (if
    * running), unregister it, and delete its materialized state. The
    * consumer and its other views keep running. */
  def dropView(name: String): Unit = synchronized {
    val removed = views.remove(name)
    running.keys.toSeq.foreach { id =>
      val (dead, alive) = running(id).partition(_.name == name)
      dead.foreach(_.stop())
      if (dead.nonEmpty) running(id) = alive
    }
    awaitFolds() // a fold still writing would recreate the dirs dropped below
    foldFailures.remove(name) // not a later view's of the same name
    if (removed.exists(_.materialize == "memory")) {
      memSnaps.synchronized(memSnaps.remove(name))
        .foreach(_.unpersist(blocking = false))
      spark.catalog.dropGlobalTempView(name)
      spark.catalog.dropTempView(name) // the engine-created session alias
    }
    saveCatalog()
    rmTree(Paths.get(metaDir, "views", name).toFile)
    // drop the view's checkpoints too: a later view of the same name must
    // start fresh, not resume this view's aggregate state against an
    // empty delta log
    listDir(Paths.get(metaDir, "checkpoints"))
      .foreach(cdir => rmTree(cdir.resolve(name).toFile))
  }

  private def inactivePath(view: String) =
    Paths.get(metaDir, "views", view, "_graft_inactive")

  /** DEACTIVATE parity (PipelineDB pauses a continuous view's maintenance
    * without dropping it): the view's standing query stops, its
    * materialized state stays queryable, and the inactive flag persists
    * so engine restarts and later consume_begins leave it paused. Unlike
    * PipelineDB — where stream rows arriving while a view is deactivated
    * are lost to it — the durable log plus the view's checkpoint mean
    * [[activate]] resumes EXACTLY where maintenance stopped and catches
    * up; nothing is missed. */
  def deactivate(view: String): Unit = synchronized {
    require(views.contains(view), s"no continuous view '$view'")
    Files.createDirectories(Paths.get(metaDir, "views", view))
    writeAtomic(inactivePath(view), "1")
    running.keys.toSeq.foreach { id =>
      val (dead, alive) = running(id).partition(_.name == view)
      dead.foreach(_.stop())
      if (dead.nonEmpty) running(id) = alive
    }
    awaitFolds()
  }

  /** ACTIVATE parity: clear the inactive flag and re-attach the view to
    * every live consumer of its relation (the same additive attach path a
    * view declared after consume_begin takes). The retained checkpoint
    * resumes the update stream from where deactivate stopped it. */
  def activate(view: String): Unit = synchronized {
    require(views.contains(view), s"no continuous view '$view'")
    Files.deleteIfExists(inactivePath(view))
    val rel = views(view).relation
    consumers.values.toSeq
      .filter(c => c.relation == rel && running.contains(c.id))
      .foreach(c => consumeBegin(c.endpoint, c.stream, c.relation, c.format,
        c.delimiter, c.quote, c.escape, c.batchsize, c.parallelism, c.startSeq))
  }

  /** DROP STREAM parity: refuses while any consumer targets the relation;
    * drops the schema, its views, and the persistent stream table. */
  def dropStream(relation: String): Unit = synchronized {
    require(!consumers.valuesIterator.exists(_.relation == relation),
      s"consumers exist for '$relation' — consume_end and remove them first")
    streams.remove(relation)
    views.filter(_._2.relation == relation).keys.toSeq.foreach(dropView)
    saveCatalog()
    rmTree(Paths.get(metaDir, "tables", relation).toFile)
  }

  /** Remove a (stopped) consumer from the catalog — the DELETE the
    * reference runs on its consumers table. */
  def removeConsumer(endpoint: String, stream: String, relation: String): Unit =
    synchronized {
      consumers.get((endpoint, stream, relation)).foreach { c =>
        require(!running.contains(c.id), "consume_end first")
        awaitFolds()
        consumers.remove((endpoint, stream, relation))
        saveCatalog()
        rmTree(Paths.get(metaDir, "checkpoints", c.id.toString).toFile)
      }
    }

  /** @param materialize "parquet" (default — incremental delta upsert,
    *        merged by [[viewTable]]; the scale path), "append" (append-mode
    *        aggregation: rows land exactly once, when the watermark
    *        finalizes them — REQUIRED for session-window aggregations,
    *        which Spark rejects in update mode, and right for any windowed
    *        agg where only closed windows should surface), or "memory"
    *        (opt-in demo: complete-mode snapshot queryable via
    *        `spark.table(name)`, accumulates on the driver).
    * @param keys group-key columns for the read-time merge; null = infer
    *        from the view's aggregation (topmost groupBy). Pass explicitly
    *        when the view uses custom stateful operators the inference
    *        can't see (e.g. flatMapGroupsWithState in update mode).
    *        Ignored for materialize="append" (no merge — finalized rows
    *        only).
    *
    * A closure view does NOT persist across engine restarts (a Scala
    * lambda has no durable representation); use
    * [[createContinuousViewSql]] for catalog-durable views. */
  def createContinuousView(name: String, relation: String,
                           agg: DataFrame => DataFrame,
                           materialize: String = "parquet",
                           keys: Seq[String] = null): Unit = synchronized {
    require(Set("memory", "parquet", "append")(materialize),
      s"materialize=$materialize")
    views(name) = View(relation, agg, materialize, None, Option(keys))
  }

  // --- sliding-window continuous views (PipelineDB `WITH (sw = ...)`) ----

  /** Bucket-level partial columns for one aggregate spec: outCol ->
    * "count" | "sum:col" | "min:col" | "max:col" | "avg:col". Restricted
    * to combinable (algebraic) aggregates — the same restriction
    * PipelineDB imposes on sw views, because bucket partials must
    * recombine at read time. avg is combinable as (sum, count) partials,
    * folded back to the quotient by [[swCombineExpr]]. */
  private def swAggExprs(spec: (String, String)): Seq[org.apache.spark.sql.Column] =
    spec._2.split(":", 2) match {
      case Array("count") => Seq(count(lit(1)).as(spec._1))
      case Array("sum", c) => Seq(sum(col(c)).as(spec._1))
      case Array("min", c) => Seq(min(col(c)).as(spec._1))
      case Array("max", c) => Seq(max(col(c)).as(spec._1))
      case Array("avg", c) => Seq(sum(col(c)).as(s"__${spec._1}_sum"),
                                  count(col(c)).as(s"__${spec._1}_cnt"))
      // PipelineDB sw count(DISTINCT): a mergeable HLL sketch per bucket
      // (fixed-size state), unioned across live buckets at read time —
      // distinct-over-window with no recompute and no per-bucket overlap
      // error, the exact PipelineDB sliding-window HLL model.
      case Array("count_distinct", c) =>
        Seq(hll_sketch_agg(col(c)).as(spec._1))
      case _ => throw new IllegalArgumentException(
        s"unsupported sw aggregate '${spec._2}' " +
          "(count | sum:col | min:col | max:col | avg:col | count_distinct:col)")
    }

  private def swCombineExpr(spec: (String, String)): org.apache.spark.sql.Column =
    spec._2.split(":", 2)(0) match {
      case "count" | "sum" => sum(col(spec._1)).as(spec._1)
      case "min" => min(col(spec._1)).as(spec._1)
      case "max" => max(col(spec._1)).as(spec._1)
      // null on an all-null/empty window, exactly like batch avg
      case "avg" => (sum(col(s"__${spec._1}_sum")) /
                     sum(col(s"__${spec._1}_cnt"))).as(spec._1)
      case "count_distinct" =>
        hll_sketch_estimate(hll_union_agg(col(spec._1))).as(spec._1)
    }

  /** The sw standing aggregate, derived ONLY from the declarative spec —
    * shared by [[createSlidingView]] and the catalog-restore path so a
    * restarted engine rebuilds the exact same query. */
  private def swClosure(keys: Seq[String], aggs: Seq[(String, String)],
                        width: String, slide: String): DataFrame => DataFrame = {
    val partials = aggs.flatMap(swAggExprs)
    df =>
      df.withWatermark("arrival_timestamp", width)
        .groupBy(window(col("arrival_timestamp"), slide).as("__bucket") +:
                 keys.map(col): _*)
        .agg(partials.head, partials.tail: _*)
  }

  private def swMetaPath(name: String) = Paths.get(metaDir, "views", name, "_graft_sw")

  private case class SwMeta(width: String, keys: Seq[String],
                            aggs: Seq[(String, String)],
                            relation: String, slide: String)

  /** sw meta marker for the full declarative spec (relation + slide added
    * so the engine can rebuild the standing query at restart). A def for
    * the same constructor-order reason as [[CatalogVersion]]. */
  private def SwVersion = "#graft-sw-v2"

  private def readSwMeta(name: String): SwMeta = {
    require(Files.exists(swMetaPath(name)), s"'$name' is not a sliding view")
    val f = Files.readString(swMetaPath(name)).split("\t", -1)
    if (f(0) != SwVersion)
      throw new IllegalStateException(
        s"${swMetaPath(name)}: unrecognized sliding-view meta (expected " +
          s"'$SwVersion' field). This metaDir was written by an " +
          "incompatible graft version — migrate or remove it.")
    val keys = if (f(2).isEmpty) Nil else f(2).split(",", -1).toSeq.map(unesc)
    val aggs = f(3).split(",", -1).toSeq.map { kv =>
      val Array(k, v) = kv.split(":", 2); (unesc(k), unesc(v))
    }
    SwMeta(unesc(f(1)), keys, aggs, unesc(f(4)), unesc(f(5)))
  }

  /** PipelineDB sliding-window continuous view (`CREATE CONTINUOUS VIEW …
    * WITH (sw = '1 hour')`): a standing aggregate whose result
    * continuously ages out old data. The stream is bucketed into tumbling
    * `slide` windows on arrival_timestamp and aggregated incrementally per
    * (bucket, keys) — the same update-mode delta materialization as any
    * view, so per-trigger cost ∝ touched (bucket, key) groups.
    * [[slidingViewTable]] then keeps only buckets inside `width` of now
    * and recombines the partials — read cost is O(live buckets × keys),
    * never O(raw rows in the window) (the [[slidingView]] raw-scan analog)
    * and never O(history).
    *
    * A watermark of `width` bounds streaming state to the live buckets:
    * records arriving later than `width` after the stream's max arrival
    * time are dropped from the aggregate (they could only land in buckets
    * already outside every read window).
    *
    * Unlike a closure view, a sliding view IS catalog-durable: the spec
    * is fully declarative and persists in the view's sw meta, so a fresh
    * engine over the same metaDir rebuilds the standing query at
    * [[loadCatalog]] and `consumeBeginAll()` resumes maintaining it —
    * PipelineDB CV-durability semantics (reference README.md:66,78-88:
    * views survive the database restarting).
    *
    * @param aggs outCol -> "count" | "sum:col" | "min:col" | "max:col" |
    *             "avg:col" | "count_distinct:col" (combinable aggregates
    *             only, as in PipelineDB; count_distinct keeps a mergeable
    *             HLL sketch per bucket, unioned at read)
    * @param slide bucket granularity in `window()` duration syntax
    *              (e.g. "5 minutes"); width in INTERVAL syntax (e.g.
    *              "1 HOUR"). */
  def createSlidingView(name: String, relation: String, keys: Seq[String],
                        aggs: Seq[(String, String)], width: String,
                        slide: String): Unit = synchronized {
    require(aggs.nonEmpty, "at least one aggregate")
    views(name) = View(relation, swClosure(keys, aggs, width, slide),
      "parquet", None, Some("__bucket" +: keys))
    Files.createDirectories(Paths.get(metaDir, "views", name))
    writeAtomic(swMetaPath(name),
      Seq(SwVersion, esc(width), keys.map(esc).mkString(","),
          aggs.map(a => esc(a._1) + ":" + esc(a._2)).mkString(","),
          esc(relation), esc(slide))
        .mkString("\t"))
  }

  /** Current sliding-window result: merge bucket partials (viewTable),
    * keep buckets overlapping (now − width, now], recombine. */
  def slidingViewTable(name: String): DataFrame = {
    val m = readSwMeta(name)
    val live = viewTable(name).filter(
      col("__bucket.end") > current_timestamp() - expr(s"INTERVAL ${m.width}"))
    val combined = m.aggs.map(swCombineExpr)
    if (m.keys.isEmpty) live.agg(combined.head, combined.tail: _*)
    else live.groupBy(m.keys.map(col): _*).agg(combined.head, combined.tail: _*)
  }

  /** Physically drop bucket partials that have aged out of the window —
    * the sw-view TTL (PipelineDB reaps expired sw groups the same way) —
    * AND fold the surviving delta log to one row per live (bucket, keys)
    * group, i.e. compaction and expiry in one rewrite. The engine runs
    * this automatically for sliding views on the auto-compaction cadence,
    * so standing state is bounded by the live window (O(width/slide ×
    * keys)), never O(stream history), on a query that runs forever.
    * The same online fold as [[compactViewTable]], with the live-bucket
    * filter applied to the merged rows. */
  def expireSlidingViewTable(name: String, targetPartitions: Int = 8): Unit = {
    val width = readSwMeta(name).width
    foldView(name, targetPartitions,
      _.filter(col("__bucket.end") > current_timestamp() - expr(s"INTERVAL $width")))
  }

  /** PipelineDB output streams (`SELECT … FROM output_of('v')`,
    * reference-side PipelineDB docs): every group update the view's
    * standing query emits is ALSO appended, as a JSON record, to a
    * derived stream log at `<metaDir>/outputs/<view>/shard-0.log` —
    * consumable by the ORDINARY machinery, which is what makes
    * continuous pipelines (CV over CV) work:
    * {{{
    *   eng.createOutputStream("v1")              // BEFORE consume_begin
    *   eng.addEndpoint("out", "local", url = s"\$metaDir/outputs")
    *   eng.createStream("v1_updates", <v1's output schema>)
    *   eng.createContinuousView("v2", "v1_updates", …)
    *   eng.consumeBegin("out", "v1", "v1_updates", format = "json")
    * }}}
    * Delivery into the output log: a per-view high-water mark suppresses
    * re-emission when a batch is replayed within a consumer lineage, so
    * the remaining duplicate sources are (a) a crash exactly between the
    * log append and the mark write, and (b) REMOVING AND RE-CREATING the
    * view's consumer — that bumps the generation epoch, the new lineage's
    * backfill recomputes every group from the log's start, and each
    * recomputed group re-emits (its stamp orders after every old one by
    * design, see the epoch comment in consumeBegin). Both are the
    * at-least-once floor, like PipelineDB's delta streams: downstream
    * aggregates that must not double-count across a consumer re-creation
    * should key on the emitted group values (e.g. max per key), not
    * count update events. The append carries only the groups the trigger
    * touched — the same rows just written as the parquet delta — and is
    * staged executor-side (see [[emitOutputStream]]), so driver memory
    * never scales with the emitted row count. */
  def createOutputStream(view: String): Unit = synchronized {
    Files.createDirectories(Paths.get(metaDir, "views", view))
    writeAtomic(Paths.get(metaDir, "views", view, "_graft_output"), "1")
  }

  private def outputStreamPath(view: String) =
    Paths.get(metaDir, "views", view, "_graft_output")

  /** Emit one trigger's group updates into the view's output log.
    *
    * Executor-side staged write: each partition serializes its rows to
    * JSON and writes them as pre-framed GRAFTLG3 record bytes into a
    * per-partition staging file; the driver then splices the parts onto
    * `outputs/<view>/shard-0.log` with a bounded-buffer byte copy
    * ([[ShardedLog.appendFramedFiles]]). Driver memory is O(copy
    * buffer), never O(rows) — the path a generation-bump backfill takes
    * when it replays EVERY group of a large view stays executor-sized.
    * A retried/duplicate task rewrites its own part file from scratch
    * (truncating open), and parts splice only after the Spark action
    * completed, so a part is never read torn. The arrival timestamp is
    * fixed once per trigger, like any put-record batch. */
  private def emitOutputStream(vname: String, batch: DataFrame,
                               stamped: Long): Unit = {
    val stageDir = Paths.get(metaDir, "outputs", vname, s".stage-$stamped")
    rmTree(stageDir.toFile) // crash leftovers of a prior attempt are stale
    Files.createDirectories(stageDir)
    val stageStr = stageDir.toString
    val arrival = System.currentTimeMillis()
    val pk = vname
    batch.select(to_json(struct(batch.columns.toIndexedSeq.map(col): _*)).as("j"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
            new java.io.FileOutputStream(
              new java.io.File(stageStr, f"part-$pid%05d")), 1 << 16))
          try it.foreach { r =>
            ShardedLog.frameRecord(out, arrival, pk,
              r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          } finally out.close()
        }
      }
    val parts = Option(stageDir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
    if (parts.nonEmpty)
      ShardedLog.appendFramedFiles(s"$metaDir/outputs/$vname", 0, parts)
    rmTree(stageDir.toFile)
  }

  /** CREATE CONTINUOUS TRANSFORM parity (PipelineDB's second CV kind): a
    * stateless per-row transform over the stream whose output rows are
    * all kept — exactly the no-aggregate path of the incremental
    * materializer (append mode, no merge). A thin alias so the intent is
    * explicit at the call site. */
  def createContinuousTransform(name: String, relation: String,
                                transform: DataFrame => DataFrame,
                                materialize: String = "parquet"): Unit =
    createContinuousView(name, relation, transform, materialize)

  /** Per-batch SQL application for SQL-declared views. The stream batch is
    * registered under the relation's name only for the duration of the
    * analysis — a pre-existing user temp view with that name is shadowed
    * and restored, never clobbered (same contract as the `sql()` query
    * path below; `spark.sql` analyzes eagerly, so the returned frame keeps
    * its resolved plan after the rollback). */
  private def sqlAgg(relation: String, sql: String,
                     strict: Boolean = false): DataFrame => DataFrame = {
    val streamSql = KinesisEngine.rewriteCountDistinct(sql)
    // SQL has no withWatermark syntax, but append-mode sessionization
    // requires one: when the SELECT calls session_window(col, gap),
    // watermark the stream on that column with the gap as the delay —
    // a session finalizes one gap after its last event anyway, so this
    // tolerates the same lateness. Parsed (unresolved) plan, because the
    // analyzer rewrites the SessionWindow call away.
    // parse failure → no session-window handling here (the SQL will fail
    // with its own parse error at first use); a PRESENT session_window
    // whose column/gap can't be extracted must fail NOW with a clear
    // message — deferring yields Spark's opaque append-without-watermark
    // error only when the streaming query starts.
    val sessionCalls = scala.util.Try {
      spark.sessionState.sqlParser.parsePlan(streamSql)
        .collect { case p => p.expressions.flatMap(_.collect {
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
              if f.nameParts.map(_.toLowerCase) == Seq("session_window") => f
        })}.flatten
    }.getOrElse(Seq.empty)
    // strict=true only on the CREATE path: an extraction failure for a
    // catalog-loaded view must NOT throw — that would run inside
    // loadCatalog and make an engine with one legacy session-window view
    // unconstructible (no engine left to even DROP it through). Loaded
    // views fall back to the old no-watermark behavior and surface
    // Spark's own error if/when their query starts.
    val sessionWm: Option[(String, String)] = sessionCalls.headOption.flatMap { f =>
      val col = f.arguments.headOption.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }
      val gap = f.arguments.lift(1).collect {
        case org.apache.spark.sql.catalyst.expressions.Literal(s, _) =>
          String.valueOf(s)
      }
      val cg = for (c <- col; g <- gap) yield (c, g)
      if (cg.isEmpty && strict)
        throw new IllegalArgumentException(
          "CREATE CONTINUOUS VIEW: cannot derive a watermark from " +
            s"session_window(...) in [$sql] — the first argument must be a " +
            "bare stream column and the gap a string literal (e.g. " +
            "session_window(ts, '30 seconds')); append-mode sessionization " +
            "requires a watermark, so wrap casts/expressions in the " +
            "stream's parse step instead")
      cg
    }
    df => {
      val src = sessionWm match {
        case Some((c, g)) => df.withWatermark(c, g)
        case None => df
      }
      val prior = scala.util.Try {
        if (spark.catalog.tableExists(relation) &&
            spark.catalog.getTable(relation).isTemporary)
          Some(spark.table(relation))
        else None
      }.getOrElse(None)
      src.createOrReplaceTempView(relation)
      try spark.sql(streamSql)
      finally prior match {
        case Some(p) => p.createOrReplaceTempView(relation)
        case None => spark.catalog.dropTempView(relation)
      }
    }
  }

  /** CREATE CONTINUOUS VIEW … AS <sql> — the reference's actual UX
    * (README.md:66): the view is declared as SQL over the stream
    * relation's name. The parsed stream is registered as a temp view
    * named after the relation at consume time, so the SQL references it
    * directly. SQL views persist in the catalog and are restored by a
    * fresh engine over the same metaDir. */
  def createContinuousViewSql(name: String, relation: String, sql: String,
                              materialize: String = "parquet"): Unit = synchronized {
    require(Set("memory", "parquet", "append")(materialize),
      s"materialize=$materialize")
    // strict only for the materializations that run session windows in
    // append mode (watermark mandatory); memory views run complete-mode
    // snapshots and are legal without one.
    views(name) = View(relation,
      sqlAgg(relation, sql, strict = materialize != "memory"),
      materialize, Some(sql), None)
    saveCatalog()
  }

  // --- incremental view materialization ------------------------------------

  /** Merge-key metadata for a view: `Some(keys)` when the view's top
    * operator is an aggregation (empty = global aggregate, one standing
    * row set), `None` for a stateless transform (pure append, no merge).
    * Inferred from the analyzed plan's topmost Aggregate so closure and
    * SQL views both work without declaring keys. */
  private def inferViewKeys(aggDf: DataFrame): Option[Seq[String]] =
    aggDf.queryExecution.analyzed.collectFirst { case a: Aggregate => a }.map { a =>
      val out = aggDf.schema.fieldNames.toSet
      val aliases = a.aggregateExpressions.collect { case al: Alias => al }
      val names = a.groupingExpressions.map {
        case ne: NamedExpression => ne.name
        case e => aliases.find(_.child.semanticEquals(e)).map(_.name).getOrElse(
          throw new IllegalArgumentException(
            s"cannot infer a merge key for grouping expression $e — " +
              "alias it in the select list or pass keys=... explicitly"))
      }
      val missing = names.filterNot(out)
      require(missing.isEmpty, s"grouping columns ${missing.mkString(", ")} " +
        "must appear in the view output for incremental materialization")
      names
    }

  private def viewMetaPath(name: String) = Paths.get(metaDir, "views", name, "_graft_keys")

  /** Atomic single-file write (tmp + move): a concurrent reader sees the
    * old complete content or the new one, never a truncated file. */
  private def writeAtomic(path: java.nio.file.Path, body: String): Unit = {
    val tmp = path.resolveSibling("." + path.getFileName + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Recursive delete (grace cleanup / drop DDL). */
  private def rmTree(f: java.io.File): Unit = graft.Fs.rmTree(f)

  private def writeViewMeta(name: String, keysOpt: Option[Seq[String]]): Unit = {
    Files.createDirectories(Paths.get(metaDir, "views", name))
    val body = keysOpt match {
      case None => "append"
      case Some(ks) => ("merge" +: ks.map(esc)).mkString("\t")
    }
    writeAtomic(viewMetaPath(name), body)
  }

  private def readViewMeta(name: String): Option[Seq[String]] = {
    val p = viewMetaPath(name)
    require(Files.exists(p), s"view '$name' has no materialized state yet")
    Files.readString(p).split("\t", -1).toSeq match {
      case Seq("append") => None
      case "merge" +: ks => Some(ks.map(unesc))
      case other => throw new IllegalStateException(s"$p: bad view meta $other")
    }
  }

  // Versioned delta layout: views/<name>/delta-<v>/ plus a `_graft_current`
  // pointer file naming the live version. Appends take a per-view lock;
  // readers resolve the pointer lock-free. A fold (see [[foldView]])
  // holds that lock only to snapshot delta-<v> and, later, to carry what
  // was appended meanwhile into v+1 and swap the pointer; it deletes
  // versions ≤ v−1 — the immediately previous version survives one fold
  // cycle as a grace window for in-flight readers, so folding does NOT
  // require stopping consumers. Folds of one view serialize on a
  // separate per-view fold lock that appends never take.
  private val viewLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def viewLock(name: String): Object =
    viewLocks.computeIfAbsent(name, _ => new Object)
  private def foldLock(name: String): Object =
    viewLocks.computeIfAbsent(s"fold:$name", _ => new Object)

  // Cadence folds run on ONE engine-owned thread, created on demand and
  // retired after 10 s idle. It is built without inheriting thread-locals:
  // the submitting stream thread carries Spark local properties (its SQL
  // execution id, streaming query id, job description) that must not leak
  // onto the fold's jobs.
  private val foldPool = new java.util.concurrent.ThreadPoolExecutor(
    0, 1, 10L, java.util.concurrent.TimeUnit.SECONDS,
    new java.util.concurrent.LinkedBlockingQueue[Runnable](),
    (r: Runnable) => new Thread(null, r, "graft-view-fold", 0L, false)
      .tap(_.setDaemon(true)))
  // per view: the fold handed to the pool and not yet finished, and the
  // failure of the last one, rethrown by the view's next cadence trigger
  private val foldsInFlight =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.Future[_]]()
  private val foldFailures = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()

  /** The cadence hook of a view trigger: rethrow the view's last failed
    * fold (failing the query, as an inline fold would have), else hand
    * `fold` to the fold thread and return at once — unless the view's
    * previous fold is still in flight, in which case this cadence skips. */
  private def scheduleFold(name: String)(fold: => Unit): Unit = {
    Option(foldFailures.remove(name)).foreach(e => throw e)
    if (Option(foldsInFlight.get(name)).forall(_.isDone))
      foldsInFlight.put(name, foldPool.submit((() =>
        try fold catch { case e: Throwable =>
          log.error(s"background fold of view '$name' failed; its next " +
            "cadence trigger rethrows", e)
          foldFailures.put(name, e)
        }): Runnable))
  }

  /** Block until every fold handed to the fold thread has finished — the
    * engine's sync points (processAllAvailable, consumeEnd…) call this so
    * their callers see a finished fold. Failures stay queued for the
    * view's next cadence trigger. */
  private def awaitFolds(): Unit = foldsInFlight.values.forEach(_.get())

  private def viewPtrPath(name: String) = Paths.get(metaDir, "views", name, "_graft_current")

  /** Resolve the view's current delta directory (initializing the pointer
    * on first use). Exposed for tests/inspection. */
  def viewDeltaDir(name: String): String = {
    val p = viewPtrPath(name)
    val v =
      if (Files.exists(p)) Files.readString(p)
      else { Files.createDirectories(p.getParent); writeAtomic(p, "delta-0"); "delta-0" }
    s"$metaDir/views/$name/$v"
  }

  /** The read-time merge: newest write per group key wins (keys from the
    * view meta; None = stateless append, Nil = global aggregate).
    * `keepBatch` keeps each surviving row's own `__batch` stamp — the
    * fold's output, so deltas written after the fold still win. */
  private def mergeDeltas(delta: DataFrame, keysOpt: Option[Seq[String]],
                          keepBatch: Boolean = false): DataFrame =
    keysOpt match {
      case None => if (keepBatch) delta else delta.drop("__batch")
      case Some(keys)
          if keys.nonEmpty && delta.columns.length > keys.length + 1 &&
            graft.Opt.on(spark) =>
        // r21: newest-per-key via max_by aggregation instead of a
        // row_number window. The win is PARTIAL (map-side) aggregation:
        // same-key delta rows collapse before the exchange, so the
        // shuffle carries ~one row per key instead of one per delta —
        // the deeper the log since compaction, the bigger the cut.
        // (Physically this is a SortAggregate — the struct buffer is not
        // hash-aggregable — so it trades the window's single post-shuffle
        // sort for map+reduce sorts over FEWER rows; isolated merge on a
        // 50-deltas/key log measured 0.85-0.90x, whole-query parity at
        // the bench's shallow default.) Ties on __batch only arise from
        // a replayed batch re-appending its rows, and a replay's rows
        // are byte-identical (deterministic aggregation output), so the
        // arbitrary tie pick equals the window's arbitrary row_number
        // pick. Payload-less deltas (no non-key column) fall through to
        // the window path below rather than build an empty struct.
        val out = delta.columns.filterNot(_ == "__batch").toSeq ++
          (if (keepBatch) Seq("__batch") else Nil)
        val payload = out.filterNot(keys.contains)
        delta.groupBy(keys.map(col): _*)
          .agg(max_by(struct(payload.map(col): _*), col("__batch"))
            .as("__top"))
          .select(out.map(c =>
            if (keys.contains(c)) col(c)
            else col("__top").getField(c).as(c)): _*)
      case Some(keys) =>
        // global aggregates (no keys) merge under a single partition — the
        // delta there is one row per trigger, so the unpartitioned window
        // is a handful of rows, not a scale hazard.
        val w = if (keys.isEmpty) Window.orderBy(col("__batch").desc)
                else Window.partitionBy(keys.map(col): _*).orderBy(col("__batch").desc)
        val newest = delta.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        if (keepBatch) newest else newest.drop("__batch")
    }

  /** A view's current delta log. Merge-mode deltas are flat appended
    * files; append-mode (stateless transform) deltas live in per-batch
    * `b<stamp>` subdirs (overwritten on replay — the idempotence unit),
    * so the read lists recursively. */
  private def readDeltaLog(curDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(curDir)

  /** Fold high-water mark for append-mode views: the highest stamped
    * batch already folded into a compacted snapshot. A batch replayed
    * AFTER being folded must be skipped, not re-appended — its rows are
    * already in the flat snapshot and the per-batch overwrite can no
    * longer collapse them. */
  private def foldedPath(name: String) = Paths.get(metaDir, "views", name, "_graft_folded")

  private def foldedThrough(name: String): Long = {
    val p = foldedPath(name)
    if (Files.exists(p)) Files.readString(p).trim.toLong else Long.MinValue
  }

  /** Current contents of an incrementally-materialized view: parquet
    * deltas merged so the newest write per group key wins. Merge cost is
    * O(deltas since compaction), not O(history) — the engine folds the
    * log automatically every `autoCompactEvery` batches (and
    * [[compactViewTable]] can be called any time, consumers running or
    * not). */
  def viewTable(name: String): DataFrame = {
    val keysOpt = readViewMeta(name)
    val curDir = viewDeltaDir(name)
    // before the view's first commit the delta dir holds no data to infer
    // a schema from: serve the empty view in the schema recorded at
    // consumeBegin
    val schemaPath = viewSchemaPath(name)
    if (!listDir(Paths.get(curDir)).exists(committedLeaves(_).nonEmpty) &&
        Files.exists(schemaPath))
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.DataType.fromJson(Files.readString(schemaPath))
          .asInstanceOf[StructType])
    else mergeDeltas(readDeltaLog(curDir), keysOpt)
  }

  private def viewSchemaPath(name: String) = Paths.get(metaDir, "views", name, "_graft_schema")

  /** The parquet files a delta-dir entry commits: a `part-*` file is its
    * own, a `b<stamp>` batch subdir (append-mode views) holds its batch's
    * files — none while a failed batch write left it empty for its replay
    * to fill. Anything else (`_SUCCESS`, checksums, a write's
    * `_temporary`) commits nothing. */
  private def committedLeaves(p: java.nio.file.Path): Seq[String] = {
    val n = p.getFileName.toString
    if (n.startsWith("part-")) Seq(n)
    else if (n.startsWith("b") && Files.isDirectory(p))
      listDir(p).map(_.getFileName.toString).filter(_.startsWith("part-"))
    else Nil
  }

  /** Fold a view's delta log down to one merged snapshot, each row keeping
    * its own newest `__batch` so future deltas still win the merge.
    * ONLINE: safe while the view's query runs — its appends wait only for
    * the fold's carry-and-flip step, and readers keep the one-version
    * grace window. The engine runs this same routine on the cadence, on
    * its fold thread; a direct call runs it on the caller's thread. */
  def compactViewTable(name: String, targetPartitions: Int = 8): Unit =
    foldView(name, targetPartitions, identity)

  /** The one fold routine behind [[compactViewTable]] and
    * [[expireSlidingViewTable]] (`keep` filters the merged rows):
    *  1. snapshot — under the view lock, resolve delta-v and list its
    *     committed entries;
    *  2. merge — outside the lock, fold exactly those entries into
    *     delta-(v+1) with one shuffle: hash-repartition on the merge keys,
    *     then newest row per key within each partition (a global
    *     aggregate keeps its single-partition window);
    *  3. carry and flip — under the view lock again, hard-link every entry
    *     appended to delta-v since the snapshot into delta-(v+1), swap the
    *     pointer, record the fold high-water mark (append-mode views) and
    *     grace-delete versions below v.
    * Its jobs run under the job group `graft-fold:<view>`. */
  private def foldView(name: String, targetPartitions: Int,
                       keep: DataFrame => DataFrame): Unit =
    foldLock(name).synchronized {
      val (cur, snap) = viewLock(name).synchronized {
        val cur = Paths.get(viewDeltaDir(name))
        (cur, listDir(cur).map(p => p.getFileName.toString -> committedLeaves(p))
          .filter(_._2.nonEmpty).toMap)
      }
      if (snap.isEmpty) return // nothing materialized yet
      val v = cur.getFileName.toString.stripPrefix("delta-").toLong
      val next = cur.resolveSibling(s"delta-${v + 1}")
      val keysOpt = readViewMeta(name)
      // the directory read lists delta-v once (a file list would cost a
      // parallel listing job past 32 files); the file-name filter pins the
      // scan to the snapshot — part-file names are unique per write job
      val delta = readDeltaLog(cur.toString)
        .where(col("_metadata.file_name").isin(snap.values.flatten.toSeq: _*))
      val merged = keysOpt match {
        case Some(keys) if keys.nonEmpty =>
          mergeDeltas(delta.repartition(targetPartitions, keys.map(col): _*),
            keysOpt, keepBatch = true)
        case Some(_) => mergeDeltas(delta, keysOpt, keepBatch = true)
        case None => delta.repartition(targetPartitions)
      }
      val sc = spark.sparkContext
      val groupProps = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel")
      val prior = groupProps.map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(s"graft-fold:$name", s"fold view $name")
      try keep(merged).write.mode("overwrite").parquet(next.toString)
      finally prior.foreach { case (k, p) => sc.setLocalProperty(k, p) }
      viewLock(name).synchronized {
        listDir(cur).filter(p => !snap.contains(p.getFileName.toString) &&
            committedLeaves(p).nonEmpty)
          .foreach(p => linkTree(p, next.resolve(p.getFileName.toString)))
        writeAtomic(viewPtrPath(name), next.getFileName.toString)
        if (keysOpt.isEmpty)
          snap.keys.filter(_.matches("b\\d+")).map(_.tail.toLong).maxOption
            .foreach(s => writeAtomic(foldedPath(name), s.toString))
        dropDeltaVersionsBelow(name, v)
      }
    }

  /** Delete delta versions strictly below `keepFrom` (grace cleanup). */
  private def dropDeltaVersionsBelow(name: String, keepFrom: Long): Unit = {
    listDir(Paths.get(metaDir, "views", name)).foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("delta-") &&
          n.stripPrefix("delta-").forall(_.isDigit) &&
          n.stripPrefix("delta-").toLong < keepFrom)
        rmTree(p.toFile)
    }
  }

  // Stream tables use the same versioned-dir + atomic-pointer layout as
  // view deltas (tables/<rel>/data-<v> behind `_graft_current`), so
  // compaction and TTL expiry run ONLINE — no consumer stop. Appends and
  // rewrites serialize on a per-relation lock; readers resolve the
  // pointer lock-free with the one-version grace window. WITHIN a
  // version, rows are Hive-partitioned by arrival DATE
  // (`__arrival_date=YYYY-MM-DD/`), which is what makes TTL expiry
  // O(dropped data) instead of O(table) — see [[expireStreamTable]].
  private def tableLock(relation: String): Object =
    viewLocks.computeIfAbsent(s"table:$relation", _ => new Object)

  private def tablePtrPath(relation: String) =
    Paths.get(metaDir, "tables", relation, "_graft_current")

  /** Resolve the relation's current table data directory (initializing
    * the pointer on first use). */
  def tableDataDir(relation: String): String = {
    val p = tablePtrPath(relation)
    val v =
      if (Files.exists(p)) Files.readString(p)
      else { Files.createDirectories(p.getParent); writeAtomic(p, "data-0"); "data-0" }
    s"$metaDir/tables/$relation/$v"
  }

  private def tableSchema(relation: String): StructType =
    streams(relation).add(StructField("arrival_timestamp", TimestampType))

  /** Read the persistent stream table (every ingested row of a relation —
    * the B4 COPY-into-stream analog, parquet-append with its own
    * checkpoint). The physical date partitioning is an internal layout
    * detail — the logical schema stays `stream columns +
    * arrival_timestamp`. */
  def streamTable(relation: String): DataFrame =
    spark.read.schema(tableSchema(relation)
        .add(StructField("__arrival_date", org.apache.spark.sql.types.DateType)))
      .parquet(tableDataDir(relation))
      .drop("__arrival_date")

  /** Grace cleanup: delete table versions strictly below `keepFrom` (the
    * immediately previous version survives one cycle for in-flight
    * readers). Hard-linked data files shared with the live version are
    * only unlinked, never destroyed. */
  private def dropTableVersionsBelow(relation: String, keepFrom: Long): Unit =
    listDir(Paths.get(metaDir, "tables", relation)).foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("data-") && n.stripPrefix("data-").forall(_.isDigit) &&
          n.stripPrefix("data-").toLong < keepFrom)
        rmTree(p.toFile)
    }

  /** Rewrite the stream table through a versioned swap: write the
    * refolded rows as data-<v+1> (date-partitioned), flip the pointer,
    * grace-delete versions ≤ v−1. Online — appends serialize on the
    * relation lock. */
  private def rewriteStreamTable(relation: String, targetPartitions: Int)
                                (xform: DataFrame => DataFrame): Unit =
    tableLock(relation).synchronized {
      val curDir = tableDataDir(relation)
      if (!Files.exists(Paths.get(curDir))) return // nothing ingested yet
      val v = Paths.get(curDir).getFileName.toString.stripPrefix("data-").toLong
      xform(streamTable(relation))
        .withColumn("__arrival_date", to_date(col("arrival_timestamp")))
        // keyed repartition: one task (→ one file) per date, up to
        // targetPartitions tasks — compaction output stays partitioned
        .repartition(targetPartitions, col("__arrival_date"))
        .write.partitionBy("__arrival_date").mode("overwrite")
        .parquet(s"$metaDir/tables/$relation/data-${v + 1}")
      writeAtomic(tablePtrPath(relation), s"data-${v + 1}")
      dropTableVersionsBelow(relation, v)
    }

  /** Recursive hard-link mirror: `dst` gets the same tree as `src` with
    * every regular file hard-linked (same inodes — zero data copied or
    * rewritten). The unit of O(1) partition carry-over in
    * [[expireStreamTable]], the same metadata-only move a table format
    * (Hive/Iceberg) does by rewriting only the partition manifest. */
  private def linkTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      listDir(src).foreach(c => linkTree(c, dst.resolve(c.getFileName)))
    } else try Files.createLink(dst, src) catch {
      // filesystem without hard links: carry by copy — correct, just not
      // metadata-only (parquet files are immutable either way)
      case _: UnsupportedOperationException =>
        Files.copy(src, dst, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }

  /** PipelineDB sliding-window view analog (`WITH (sw = '5 minutes')`):
    * a query-time view over only the rows that arrived within `width` of
    * now — results age out continuously without any state mutation, the
    * same read-time-filter semantics PipelineDB uses for sw views.
    *
    * The window filter is applied on the DATE PARTITION column first
    * (a superset of the timestamp cut), so the scan prunes whole date
    * partitions: a 5-minute window over a year of history reads one or
    * two days of files, not the table. */
  def slidingView(relation: String, width: String): DataFrame = {
    val cutoff = current_timestamp() - expr(s"INTERVAL $width")
    spark.read.schema(tableSchema(relation)
        .add(StructField("__arrival_date", org.apache.spark.sql.types.DateType)))
      .parquet(tableDataDir(relation))
      .filter(col("__arrival_date") >= to_date(cutoff)) // partition prune
      .filter(col("arrival_timestamp") >= cutoff)
      .drop("__arrival_date")
  }

  /** PipelineDB TTL analog: physically drop stream-table rows whose
    * arrival_timestamp is older than the TTL. ONLINE (versioned swap +
    * pointer flip) — runs while the consumer keeps ingesting, which is
    * exactly when a TTL'd stream needs reaping.
    *
    * O(dropped data), never O(table): the table is Hive-partitioned by
    * arrival date, so per partition the reap is
    *  - fully expired (date < cutoff date) → DROPPED by omission — the
    *    partition is simply not carried into the next version; zero I/O;
    *  - fully live (date > cutoff date) → HARD-LINKED into the next
    *    version — metadata-only, data files untouched (the
    *    drop-partition pattern of Hive/Iceberg manifests);
    *  - the single BOUNDARY partition straddling the cutoff → the only
    *    one whose rows are actually read and rewritten filtered.
    * At continuous-ingest scale a daily reap therefore rewrites at most
    * one day of data regardless of how much history the table holds. */
  def expireStreamTable(relation: String, ttl: String,
                        targetPartitions: Int = 8): Unit =
    tableLock(relation).synchronized {
      val curDir = tableDataDir(relation)
      if (!Files.exists(Paths.get(curDir))) return // nothing ingested yet
      val v = Paths.get(curDir).getFileName.toString.stripPrefix("data-").toLong
      // cutoff instant AND its date string evaluated by ONE Spark query so
      // both use the session time zone the partition values were written in
      val cutRow = spark.sql(
        s"SELECT current_timestamp() - INTERVAL $ttl AS t, " +
          s"CAST(to_date(current_timestamp() - INTERVAL $ttl) AS STRING) AS d")
        .head()
      val cutTs = cutRow.getTimestamp(0)
      val cutDate = cutRow.getString(1)
      // fail-fast on the flat pre-partitioned layout (same policy as the
      // catalog header and shard-log magic): expiring by partition over a
      // layout that has none would silently drop every row
      if (listDir(Paths.get(curDir))
            .exists(_.getFileName.toString.endsWith(".parquet")))
        throw new IllegalStateException(
          s"$curDir holds flat (pre-date-partitioned) parquet files — run " +
            s"compactStreamTable('$relation') once to migrate to the " +
            "partitioned layout before TTL expiry")
      val newName = s"data-${v + 1}"
      val newDir = Paths.get(metaDir, "tables", relation, newName)
      // crash recovery: a leftover data-<v+1> from a run that died before
      // the pointer flip is unreferenced (the pointer still names data-<v>)
      // — clear it, or the hard-link carry below throws on every retry
      if (Files.exists(newDir)) rmTree(newDir.toFile)
      Files.createDirectories(newDir)
      listDir(Paths.get(curDir))
        .filter(_.getFileName.toString.startsWith("__arrival_date="))
        .foreach { p =>
          val d = p.getFileName.toString.stripPrefix("__arrival_date=")
          // ISO dates compare correctly as strings
          if (d > cutDate) linkTree(p, newDir.resolve(p.getFileName.toString))
          else if (d == cutDate)
            spark.read.schema(tableSchema(relation)).parquet(p.toString)
              .filter(col("arrival_timestamp") >= lit(cutTs))
              .repartition(targetPartitions)
              .write.mode("overwrite")
              .parquet(newDir.resolve(p.getFileName.toString).toString)
          // else: dead partition — dropped by omission
        }
      writeAtomic(tablePtrPath(relation), newName)
      dropTableVersionsBelow(relation, v)
    }

  /** Compact a stream table: streaming append writes one file per
    * micro-batch per shard, which at continuous-ingest scale degrades
    * every downstream scan (the small-files problem). ONLINE: rewrites
    * into `targetPartitions` files behind the version pointer while the
    * consumer keeps appending. O(table) — for continuous maintenance use
    * [[compactStreamTablePartition]], which touches only the partition
    * that is actually accumulating files. */
  def compactStreamTable(relation: String, targetPartitions: Int = 8): Unit =
    rewriteStreamTable(relation, targetPartitions)(identity)

  /** Compact ONE date partition (Iceberg-style partial compaction):
    * every other partition is carried into the next version by hard link
    * (metadata-only), the target is rewritten into `targetPartitions`
    * files. This is the O(one partition) maintenance op a continuously
    * ingesting table needs — small files only ever accumulate in the
    * partition currently receiving appends, so folding just that one
    * bounds scan degradation without ever rewriting history. The engine
    * runs it automatically on the current date every `autoCompactEvery`
    * table batches. */
  def compactStreamTablePartition(relation: String, date: String,
                                  targetPartitions: Int = 8): Unit =
    tableLock(relation).synchronized {
      val curDir = tableDataDir(relation)
      if (!Files.exists(Paths.get(curDir))) return
      val target = s"__arrival_date=$date"
      val tgtPath = Paths.get(curDir, target)
      if (!Files.exists(tgtPath)) return // nothing ingested for that date
      val v = Paths.get(curDir).getFileName.toString.stripPrefix("data-").toLong
      val newName = s"data-${v + 1}"
      val newDir = Paths.get(metaDir, "tables", relation, newName)
      // crash recovery: see expireStreamTable — an unreferenced leftover
      // data-<v+1> must not wedge the retry's hard-link carry (this op is
      // auto-invoked from the table sink, so a wedge fails every batch)
      if (Files.exists(newDir)) rmTree(newDir.toFile)
      Files.createDirectories(newDir)
      listDir(Paths.get(curDir))
        .filter(_.getFileName.toString.startsWith("__arrival_date="))
        .foreach { p =>
          if (p.getFileName.toString == target)
            spark.read.schema(tableSchema(relation)).parquet(p.toString)
              .repartition(targetPartitions)
              .write.mode("overwrite")
              .parquet(newDir.resolve(target).toString)
          else linkTree(p, newDir.resolve(p.getFileName.toString))
        }
      writeAtomic(tablePtrPath(relation), newName)
      dropTableVersionsBelow(relation, v)
    }

  // --- data plane ---------------------------------------------------------

  /** The parsed stream for a consumer config: source → parse (B2) →
    * implicit-column injection (B3). `arrival_timestamp` is the source's
    * per-record approximate_arrival_timestamp — fixed at put time
    * (kinesis_consumer.cpp:485-489), so replayed batches are identical. */
  private def parsedStream(c: Consumer, url: String): DataFrame = {
    val schema = streams(c.relation)
    val raw = spark.readStream.format(ShardedLog.FORMAT)
      .option("path", s"$url/${c.stream}")
      .option("batchsize", c.batchsize)
      .option("startingposition", c.startPosOption)
      .option("parallelism", c.parallelism)
      .load()
    val at = col("approximate_arrival_timestamp").as("arrival_timestamp")
    c.format match {
      case "text" =>
        // text COPY: the whole record lands in the relation's single
        // payload column (reference README.md:65 `foo_stream (payload text)`)
        require(schema.fields.length == 1, "text format needs a 1-column stream")
        raw.select(col("data").cast(StringType).cast(schema.fields.head.dataType)
          .as(schema.fields.head.name), at)
      case "csv" =>
        val opts = Map("sep" -> c.delimiter) ++
          Option(c.quote).map("quote" -> _) ++ Option(c.escape).map("escape" -> _)
        raw.select(from_csv(col("data").cast(StringType), schema, opts).as("r"), at)
          .select(col("r.*"), col("arrival_timestamp"))
      case "json" =>
        // beyond the reference's text/csv: JSON records parsed against the
        // declared stream schema, same PERMISSIVE poison policy
        raw.select(from_json(col("data").cast(StringType), schema).as("r"), at)
          .select(col("r.*"), col("arrival_timestamp"))
      case "binary" =>
        // opaque-bytes parity (kinesis_consumer.h:65-69): the v2 record
        // framing carries raw payload bytes, so the stream column receives
        // them verbatim — no base64 detour, zero size inflation.
        require(schema.fields.length == 1 &&
                schema.fields.head.dataType == org.apache.spark.sql.types.BinaryType,
          "binary format needs a 1-column BINARY stream")
        raw.select(col("data").as(schema.fields.head.name), at)
      case other => throw new IllegalArgumentException(s"format $other")
    }
  }

  private implicit class ConsumerOps(c: Consumer) {
    /** start_seq → starting position, the reference's encoding: −2 =
      * trim_horizon, −1 = latest, n ≥ 0 = after_sequence_number:n
      * (pipeline_kinesis.c:587-605,922-925). Only consulted when no saved
      * seqnum (checkpoint) exists — checkpoint resume wins, matching
      * pipeline_kinesis.c:592-604. */
    def startPosOption: String = c.startSeq match {
      case -2L => "trim_horizon"
      case -1L => "latest"
      case n if n >= 0 => s"after_sequence_number:$n"
      case bad => throw new IllegalArgumentException(s"start_seq $bad")
    }
  }

  /** consume_begin_sr analog (pipeline_kinesis.c:857-948): upsert consumer,
    * launch one StreamingQuery per continuous view over the relation.
    *
    * `pollMs` is the rate-pacing knob, the analog of the reference's
    * fixed 4 req/s GetRecords pacing (sleep `0.25 − delta` between
    * requests, kinesis_consumer.cpp:417-420): micro-batches trigger on a
    * `Trigger.ProcessingTime(pollMs)` clock instead of ASAP, so the
    * intake ceiling is `batchsize × shards × (1000/pollMs)` records/s —
    * the same `rate × batchsize` arithmetic as the reference's ≈4,000
    * rec/s/shard ceiling (BASELINE.md). 0 (default) = unpaced ASAP
    * triggers. The reference's linear throttle backoff
    * (kinesis_consumer.cpp:397-401) has no local analog — it reacts to a
    * remote ProvisionedThroughputExceeded signal that a local log cannot
    * emit; pacing is the user-visible half of that contract. Persisted in
    * the consumer catalog like batchsize, so consumeBeginAll resumes the
    * same pacing. */
  def consumeBegin(endpoint: String, stream: String, relation: String,
                   format: String = "text", delimiter: String = "\t",
                   quote: String = null, escape: String = null,
                   batchsize: Long = 1000L, parallelism: Int = 1,
                   startSeq: Long = -2L, pollMs: Long = 0L): Int =
    consumeBeginWith(None, endpoint, stream, relation, format, delimiter,
      quote, escape, batchsize, parallelism, startSeq, pollMs)

  /** Backfill variant of consume_begin: the SAME pipeline (parse → stream
    * table + every continuous view), run with `Trigger.AvailableNow` — the
    * source snapshots its shard-end positions at start, drains up to them
    * in batchsize-capped micro-batches, then every query stops itself.
    * Blocks until the drain completes. Checkpoints/seqnums advance exactly
    * as in continuous mode, so a later consumeBegin or consumeBackfill
    * resumes after the drained records; shards created mid-drain wait for
    * the next run (the Kinesis "process what exists now" contract).
    * Refuses while the consumer is already running continuously. */
  def consumeBackfill(endpoint: String, stream: String, relation: String,
                      format: String = "text", delimiter: String = "\t",
                      quote: String = null, escape: String = null,
                      batchsize: Long = 1000L, parallelism: Int = 1,
                      startSeq: Long = -2L, pollMs: Long = 0L): Int = {
    // The not-running-continuously check lives INSIDE consumeBeginWith's
    // monitor (gated on trig.isDefined), and the query snapshot is taken
    // under the same lock acquisition (reentrant), so a concurrent
    // consumeBegin can neither slip continuous queries in between check
    // and start nor into the awaited set — awaitTermination below only
    // ever sees this drain's AvailableNow queries.
    val (id, qs) = synchronized {
      // pollMs doesn't pace the drain itself (AvailableNow wins in
      // consumeBeginWith's effective-trigger choice) but it IS upserted
      // into the catalog like every other consumer setting, so a backfill
      // can carry a paced consumer's knob instead of silently wiping it
      val id = consumeBeginWith(
        Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
        endpoint, stream, relation, format, delimiter, quote, escape,
        batchsize, parallelism, startSeq, pollMs)
      (id, running.getOrElse(id, Seq.empty))
    }
    // await OUTSIDE the engine monitor: the drain runs foreachBatch bodies
    // that take view/table locks, and other API calls must stay possible
    try qs.foreach(_.awaitTermination())
    catch { case e: Throwable =>
      // one query failed mid-drain: don't leave its siblings running
      // against a consumer the caller believes is stopped
      qs.foreach(q => if (q.isActive) q.stop())
      synchronized { running.remove(id) }
      throw e
    } finally awaitFolds()
    synchronized {
      if (running.get(id).exists(_.forall(q => !q.isActive))) running.remove(id)
    }
    id
  }

  private def consumeBeginWith(trig: Option[org.apache.spark.sql.streaming.Trigger],
                   endpoint: String, stream: String, relation: String,
                   format: String, delimiter: String,
                   quote: String, escape: String,
                   batchsize: Long, parallelism: Int,
                   startSeq: Long, pollMs: Long): Int = synchronized {
    // a negative interval is always a caller bug (sign typo / bad unit
    // conversion); accepted silently it would mean UNPACED — the opposite
    // of what the caller asked — and persist that way in the catalog
    require(pollMs >= 0L, s"poll_ms must be >= 0 (got $pollMs)")
    // Backfill refusal is checked HERE, atomically with the launch: a
    // separate check-then-start let a concurrent consumeBegin attach the
    // backfill to never-ending continuous queries (awaitTermination hang).
    if (trig.isDefined)
      consumers.get((endpoint, stream, relation)).foreach { c =>
        require(running.getOrElse(c.id, Seq.empty).forall(!_.isActive),
          s"consumer ${c.id} is running continuously; stop it before a backfill")
      }
    // MAX_PROCS parity: the reference caps worker processes at 8
    // (pipeline_kinesis.c:54,786-791); the capped value feeds the source's
    // task grouping (shards are read by ≤ parallelism concurrent tasks).
    val par = math.min(parallelism, 8)
    val ep = endpoints.getOrElse(endpoint, sys.error(s"no endpoint $endpoint"))
    val key = (endpoint, stream, relation)
    val c = consumers.get(key) match {
      case Some(old) => // ON CONFLICT … DO UPDATE (C3)
        val upd = old.copy(format = format, delimiter = delimiter, quote = quote,
          escape = escape, batchsize = batchsize, parallelism = par,
          startSeq = startSeq, pollMs = pollMs)
        consumers(key) = upd; upd
      case None =>
        val c = Consumer(nextId, endpoint, stream, relation, format, delimiter,
          quote, escape, batchsize, par, startSeq, pollMs)
        nextId += 1; consumers(key) = c; c
    }
    // Effective trigger: an explicit trigger (backfill's AvailableNow)
    // wins; otherwise a paced consumer triggers on its pollMs clock.
    val effTrig = trig.orElse(
      if (c.pollMs > 0)
        Some(org.apache.spark.sql.streaming.Trigger.ProcessingTime(c.pollMs))
      else None)
    saveCatalog()
    // Additive launch: a repeated consume_begin attaches queries that are
    // not yet running — in particular, a continuous view declared AFTER
    // the consumer started (PipelineDB CVs attach to live streams without
    // a consumer restart; here the new view backfills per the consumer's
    // start position, since the log — unlike a PipelineDB stream — is
    // durable). Already-running queries are left untouched.
    val have = running.getOrElse(c.id, Seq.empty)
    val haveNames = have.map(_.name).toSet
    // View queries are singletons ACROSS consumers: a second consumer on
    // the same relation must not start a duplicate view query — two
    // update streams with independent checkpoints would interleave
    // conflicting batch ids into one delta log (and a memory sink would
    // throw on the name collision). The stream TABLE does union multiple
    // consumers (each gets its own append query + checkpoint); views are
    // maintained from the first consumer's stream and that restriction is
    // logged.
    val allNames = running.values.flatten.map(_.name).toSet
    val wanted = views.toSeq.collect {
      case (vname, v) if v.relation == relation && !allNames.contains(vname) &&
        !Files.exists(inactivePath(vname)) => (vname, v) // DEACTIVATEd stay paused
    }
    views.keys.foreach { vname =>
      if (views(vname).relation == relation && allNames.contains(vname) &&
          !haveNames.contains(vname))
        log.warn(s"view '$vname' is already maintained from another consumer " +
          s"of '$relation'; consumer ${c.id} feeds only the stream table")
    }
    // a (re)started view query may replay its last batch, which rewrites
    // that batch's delta: never under a fold still reading it
    if (wanted.nonEmpty) awaitFolds()
    if (!haveNames.contains(s"${relation}__table__${c.id}") || wanted.nonEmpty) {
      val df = parsedStream(c, ep.url)
      // B4: every parsed row also lands in the persistent stream table —
      // rows flow whether or not any view aggregates them, like COPY into
      // a PipelineDB stream. Plain foreachBatch append (no _spark_metadata
      // sink log): the table stays a vanilla parquet dir, so compaction
      // and external readers work; delivery on the raw table is
      // at-least-once (a batch retried between write and checkpoint commit
      // can duplicate) — exactly the reference's stream semantics
      // (pipeline_kinesis.c:754-758); views stay exactly-once via state.
      val tableQ =
        if (haveNames.contains(s"${relation}__table__${c.id}")) Nil
        else Seq(df.writeStream
          // unique per consumer: several consumers may feed one relation's
          // table (their appends union, each with its own checkpoint)
          .queryName(s"${relation}__table__${c.id}")
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            tableLock(relation).synchronized {
              // Hive-partitioned by arrival date: the layout that makes
              // TTL expiry O(dropped data) — see expireStreamTable
              batch.withColumn("__arrival_date",
                  to_date(col("arrival_timestamp")))
                .write.partitionBy("__arrival_date").mode("append")
                .parquet(tableDataDir(relation))
            }
            // online small-files maintenance: fold ONLY the active (max
            // date) partition — history is never rewritten
            if (autoCompactEvery > 0 && batchId > 0 &&
                batchId % autoCompactEvery == 0) {
              val dates = listDir(Paths.get(tableDataDir(relation)))
                .map(_.getFileName.toString)
                .filter(_.startsWith("__arrival_date="))
                .map(_.stripPrefix("__arrival_date="))
              if (dates.nonEmpty)
                compactStreamTablePartition(relation, dates.max)
            }
          }
          .option("checkpointLocation", s"$metaDir/checkpoints/${c.id}/__table")
          .pipe(w => effTrig.fold(w)(w.trigger))
          .start())
      val viewQs = wanted.map { case (vname, v) =>
        val writer = v.materialize match {
          case "memory" =>
            // Complete-mode snapshot materialized into executor
            // block-manager cache (MEMORY_AND_DISK), NOT the driver-
            // resident memory sink: every trigger re-emits the full
            // aggregate (complete mode's contract — per-trigger cost is
            // O(all groups), which is why parquet/update stays the scale
            // path), the fresh snapshot is persisted distributed, swapped
            // in under the view lock, and no row is ever collected to the
            // driver. `spark.table(vname)` keeps working through a
            // text-based session view that re-resolves the shared global
            // temp view (the swap target) on every read.
            log.warn(s"continuous view '$vname' uses the in-memory complete-mode " +
              "snapshot: each trigger rewrites all groups into executor cache. " +
              "The default materialize=\"parquet\" is the incremental scale path.")
            val aggDf = v.agg(df)
            // exists-check: an ACTIVATE / repeated consume_begin must not
            // wipe the still-queryable snapshot back to empty
            if (!spark.catalog.tableExists(s"global_temp.$vname"))
              spark.createDataFrame(
                  java.util.Collections.emptyList[org.apache.spark.sql.Row](),
                  aggDf.schema)
                .createOrReplaceGlobalTempView(vname)
            spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $vname AS " +
              s"SELECT * FROM global_temp.$vname")
            aggDf.writeStream.queryName(vname)
              .outputMode("complete")
              .foreachBatch { (batch: DataFrame, _: Long) =>
                viewLock(vname).synchronized {
                  val snap = batch.persist(
                    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                  snap.count() // materialize fully before dropping the old one
                  snap.createOrReplaceGlobalTempView(vname)
                  memSnaps.synchronized {
                    memSnaps.put(vname, snap)
                  }.foreach(_.unpersist(blocking = false))
                }
              }
          case "parquet" | "append" =>
            // incremental: update mode emits only the groups each batch
            // touched; the delta append is atomic and the merge happens at
            // read ([[viewTable]]) — per-trigger cost ∝ touched groups.
            // materialize="append" instead runs the aggregation in append
            // output mode (rows emit exactly once, when the watermark
            // finalizes them — session windows fuse across batches, so an
            // update-mode merge would strand stale sub-session rows, and
            // Spark rejects the combination outright) and takes the
            // stateless per-batch-subdir write path below: no merge keys,
            // replay overwrites its own batch dir.
            val aggDf = v.agg(df)
            // session_window aggregations REQUIRE append mode (Spark
            // rejects update outright; an update-mode merge would strand
            // stale sub-sessions anyway), so a session CV must not depend
            // on the caller remembering materialize="append". The analyzer
            // has already rewritten SessionWindow into struct arithmetic
            // here, so detect via the marker metadata it stamps on the
            // session_window output attribute. (SQL-declared session CVs
            // additionally get their watermark injected in sqlAgg, where
            // the unresolved call still names the time column and gap.)
            val hasSessionWindow = aggDf.queryExecution.analyzed.exists(
              _.expressions.exists(_.exists {
                case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
                  a.metadata.contains("spark.sessionWindow")
                case _ => false
              }))
            if (hasSessionWindow && v.materialize != "append")
              log.info(s"continuous view '$vname' groups by session_window: " +
                "materializing append-mode (sessions finalize once, past " +
                "the watermark)")
            val keysOpt =
              if (v.materialize == "append" || hasSessionWindow) None
              else v.keys.orElse(inferViewKeys(aggDf))
            writeViewMeta(vname, keysOpt)
            writeAtomic(viewSchemaPath(vname), aggDf.schema.json)
            // Generation epoch: deltas are stamped (gen << 40) | batchId.
            // A query attaching with a FRESH checkpoint (no offsets — e.g.
            // the consumer was removed and re-created, which deletes its
            // checkpoints) restarts batch ids at 0; without the epoch its
            // new writes would LOSE the newest-per-key merge to the old
            // lineage's higher batch ids and serve stale aggregates until
            // the new ids caught up. Bumping the persisted generation
            // makes every new-lineage write order after every old one. A
            // checkpoint with offsets but no commits (crashed before the
            // first commit) keeps its generation — Spark replays the same
            // batch ids, and the merge/overwrite collapses the replay.
            val ckpt = Paths.get(metaDir, "checkpoints", c.id.toString, vname)
            val genPath = Paths.get(metaDir, "views", vname, "_graft_gen")
            val prevGen = if (Files.exists(genPath))
              Files.readString(genPath).trim.toLong else 0L
            val gen = if (maxBatchId(ckpt.resolve("offsets")).isEmpty)
              prevGen + 1 else prevGen
            if (gen != prevGen) writeAtomic(genPath, gen.toString)
            // sliding views fold AND reap on the compaction cadence —
            // standing state stays O(live window), not O(history)
            val isSw = Files.exists(swMetaPath(vname))
            val emitsOutput = Files.exists(outputStreamPath(vname))
            aggDf.writeStream.queryName(vname)
              .outputMode(if (keysOpt.isDefined) "update" else "append")
              .foreachBatch { (batch: DataFrame, batchId: Long) =>
                val stamped = (gen << 40) | batchId
                // r21 (guide §6 small files): an update-mode batch keeps
                // the state-store partitioning (spark.sql.shuffle.
                // partitions), so a touched-groups-sized delta would land
                // as cores× sliver files PER TRIGGER and the merge read
                // pays a footer+task per sliver until compaction. Pack
                // the write into at most graft.view.delta.files tasks
                // (default 8 — compactViewTable's targetPartitions);
                // coalesce is narrow, so state partitions keep their ids
                // and no shuffle is added. Raise the knob when a single
                // trigger legitimately touches huge group counts.
                // r22 (ADVICE r21 #1): computed lazily so append-mode
                // views (keysOpt None, `packed` never used) don't force
                // physical planning of the micro-batch via rdd access on
                // every trigger; the knob parse is clamped/safe so a
                // malformed session value degrades to the default
                // instead of failing the stream mid-trigger — with one
                // warning per view, so the fallback is visible.
                lazy val packed = {
                  val raw = spark.conf.get("graft.view.delta.files", "8")
                  val deltaFiles = raw.trim.toIntOption.map(math.max(1, _))
                    .getOrElse {
                      if (deltaFilesWarned.add(vname))
                        log.warn(s"view '$vname': graft.view.delta.files = " +
                          s"'$raw' is not an integer; packing deltas into 8 files")
                      8
                    }
                  if (graft.Opt.on(spark) &&
                      batch.rdd.getNumPartitions > deltaFiles)
                    batch.coalesce(deltaFiles)
                  else batch
                }
                viewLock(vname).synchronized {
                  if (keysOpt.isDefined)
                    packed.withColumn("__batch", lit(stamped))
                      .write.mode("append").parquet(viewDeltaDir(vname))
                  // Stateless transforms have no merge key to collapse a
                  // replay, so idempotence comes from the WRITE: each
                  // batch owns a b<stamp> subdir, overwritten whole on
                  // replay — a retried batch replaces its rows instead of
                  // duplicating them. Batches already folded into a
                  // compacted snapshot are skipped outright.
                  else if (stamped > foldedThrough(vname))
                    batch.withColumn("__batch", lit(stamped))
                      .write.mode("overwrite")
                      .parquet(s"${viewDeltaDir(vname)}/b$stamped")
                }
                // output stream (CV-over-CV chaining): forward this
                // trigger's group updates into the view's derived log as
                // JSON records — O(touched groups) work, executor-side
                // staged write (see emitOutputStream). A high-water
                // mark suppresses re-emission when the batch is replayed
                // in-lineage; a crash between append and mark, or a
                // generation bump replaying the backfill, can still
                // duplicate (the at-least-once floor — see the
                // createOutputStream scaladoc).
                if (emitsOutput) {
                  val hwmPath = Paths.get(metaDir, "views", vname,
                    "_graft_out_hwm")
                  val hwm = if (Files.exists(hwmPath))
                    Files.readString(hwmPath).trim.toLong else Long.MinValue
                  if (stamped > hwm) {
                    emitOutputStream(vname, batch, stamped)
                    writeAtomic(hwmPath, stamped.toString)
                  }
                }
                // online fold: bounds read-time merge cost to
                // O(groups + autoCompactEvery batch deltas) on a stream
                // that never stops; sliding views additionally drop
                // aged-out buckets in the same rewrite. Handed to the
                // fold thread — this trigger returns without waiting.
                if (autoCompactEvery > 0 && batchId > 0 &&
                    batchId % autoCompactEvery == 0)
                  scheduleFold(vname) {
                    if (isSw) expireSlidingViewTable(vname)
                    else compactViewTable(vname)
                  }
              }
        }
        writer.option("checkpointLocation",
            s"$metaDir/checkpoints/${c.id}/$vname")
          .pipe(w => effTrig.fold(w)(w.trigger))
          .start()
      }
      running(c.id) = have ++ tableQ ++ viewQs
    }
    c.id
  }

  def consumeEnd(endpoint: String, stream: String, relation: String): Unit = synchronized {
    consumers.get((endpoint, stream, relation)).foreach { c =>
      running.remove(c.id).foreach(_.foreach(_.stop())) // D3: graceful stop
    }
    awaitFolds()
  }

  def consumeBeginAll(): Unit =
    consumers.values.toSeq.foreach(c => consumeBegin(c.endpoint, c.stream, c.relation,
      c.format, c.delimiter, c.quote, c.escape, c.batchsize, c.parallelism,
      c.startSeq, c.pollMs))

  def consumeEndAll(): Unit = synchronized {
    running.values.flatten.foreach(_.stop()); running.clear() // D4
    awaitFolds()
  }

  def activeQueries: Seq[StreamingQuery] = synchronized(running.values.flatten.toSeq)

  /** Block until every running view has processed all currently-available
    * records and the folds those triggers started have finished
    * (test/demo synchronization point). */
  def processAllAvailable(): Unit = {
    activeQueries.foreach(_.processAllAvailable())
    awaitFolds()
  }

  // --- SQL front-end (the reference's actual UX) ---------------------------

  private val FnCall =
    """(?is)^SELECT\s+(?:pipeline_kinesis\.)?(add_endpoint|remove_endpoint|consume_begin|consume_backfill|consume_end)\s*\((.*)\)\s*$""".r
  private val CreateStream =
    """(?is)^CREATE\s+STREAM\s+([A-Za-z_]\w*)\s*\((.*)\)\s*$""".r
  private val CreateView =
    """(?is)^CREATE\s+CONTINUOUS\s+(VIEW|TRANSFORM)\s+([A-Za-z_]\w*)\s+AS\s+(.*)$""".r
  private val CreateSwView =
    """(?is)^CREATE\s+CONTINUOUS\s+VIEW\s+([A-Za-z_]\w*)\s+WITH\s*\(\s*sw\s*=\s*'([^']+)'\s*(?:,\s*slide\s*=\s*'([^']+)'\s*)?\)\s+AS\s+(.*)$""".r
  private val SwSelect =
    """(?is)^SELECT\s+(.*?)\s+FROM\s+([A-Za-z_]\w*)\s*(?:GROUP\s+BY\s+(.*?))?\s*$""".r
  private val SwKeyItem = """(?s)^([A-Za-z_]\w*)$""".r
  private val SwCountItem = """(?is)^count\(\s*\*\s*\)\s+AS\s+(\w+)$""".r
  private val SwAggItem =
    """(?is)^(sum|min|max|avg)\(\s*([A-Za-z_]\w*)\s*\)\s+AS\s+(\w+)$""".r
  private val SwCountDistinctItem =
    """(?is)^count\(\s*distinct\s+([A-Za-z_]\w*)\s*\)\s+AS\s+(\w+)$""".r

  private def swDdlError(name: String, detail: String) =
    new IllegalArgumentException(
      s"CREATE CONTINUOUS VIEW $name WITH (sw = …): $detail. The sw DDL " +
        "grammar is: SELECT <key cols and combinable aggregates " +
        "(count(*) | count(DISTINCT col) | sum|min|max|avg(col), each " +
        "AS-aliased)> FROM " +
        "<stream> [GROUP BY …] — for anything richer use " +
        "createSlidingView(name, relation, keys, aggs, width, slide)")
  private val DropView = """(?is)^DROP\s+CONTINUOUS\s+VIEW\s+([A-Za-z_]\w*)\s*$""".r
  // PipelineDB's ACTIVATE/DEACTIVATE statements (pause/resume a CV)
  private val ActivateView = """(?is)^ACTIVATE\s+([A-Za-z_]\w*)\s*$""".r
  private val DeactivateView = """(?is)^DEACTIVATE\s+([A-Za-z_]\w*)\s*$""".r
  private val DropStream = """(?is)^DROP\s+STREAM\s+([A-Za-z_]\w*)\s*$""".r
  private val InsertStream =
    """(?is)^INSERT\s+INTO\s+([A-Za-z_]\w*)\s*(?:\(([^)]*)\)\s*)?VALUES\s+(.*)$""".r
  // the consumer-removal idiom the reference documents: a DELETE on its
  // consumers catalog table, keyed by the unique triple
  private val DeleteConsumer =
    ("""(?is)^DELETE\s+FROM\s+pipeline_kinesis\.consumers\s+WHERE\s+""" +
     """endpoint\s*=\s*'([^']*)'\s+AND\s+"?stream"?\s*=\s*'([^']*)'\s+AND\s+""" +
     """relation\s*=\s*'([^']*)'\s*$""").r
  // argument literals: [E]'string' | number | NULL (commas inside strings
  // are safe — we scan tokens, we don't split)
  private val ArgTok = """(?i)(?:[eE])?'((?:[^']|'')*)'|(-?\d+)|(NULL)""".r

  private def parseArgs(argList: String): Seq[Option[String]] =
    ArgTok.findAllMatchIn(argList).map { m =>
      if (m.group(3) != null) None
      else if (m.group(2) != null) Some(m.group(2))
      else Some(m.group(1).replace("''", "'")
        .replace("\\t", "\t").replace("\\n", "\n"))
    }.toSeq

  /** Split a column list on top-level commas only — commas inside type
    * parameters (`numeric(10,2)`) don't separate columns. */
  private def splitColumns(cols: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0; var i = 0
    while (i < cols.length) {
      cols.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += cols.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += cols.substring(start)
    out.result()
  }

  /** Postgres column types → Spark DDL (only the spellings Spark's own
    * parser doesn't already accept — `numeric(p,s)`, `varchar(n)` etc.
    * Spark parses natively). Mapping applies strictly in TYPE position —
    * a column NAMED text/serial/bytea keeps its name. */
  private def pgTypesToSpark(cols: String): String =
    splitColumns(cols).map { item =>
      val t = item.trim
      val sp = t.indexOf(' ')
      require(sp > 0, s"column definition '$t' needs a name and a type")
      val typ = t.substring(sp + 1).trim
        .replaceAll("(?i)^double\\s+precision$", "double")
        .replaceAll("(?i)^timestamp(tz)?(\\s+with(out)?\\s+time\\s+zone)?$",
          "timestamp")
        // char/varchar map to plain string (Spark refuses them in a
        // user-specified schema without a legacy conf; length is not
        // enforced, as with Spark's own char/varchar on most paths)
        .replaceAll("(?i)^character\\s+varying(\\(\\d+\\))?$", "string")
        .replaceAll("(?i)^(var)?char\\(\\d+\\)$", "string")
        .replaceAll("(?i)^text$", "string")
        .replaceAll("(?i)^bytea$", "binary")
        .replaceAll("(?i)^bigserial$", "long")
        .replaceAll("(?i)^serial$", "int")
      s"${t.substring(0, sp)} $typ"
    }.mkString(", ")

  private def result1(v: String): DataFrame = {
    import spark.implicits._
    Seq(v).toDF("result")
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  /** PipelineDB's `INSERT INTO stream VALUES …` idiom. PipelineDB streams
    * are in-database buses; here data enters through the shard log, so
    * the INSERT routes through a bound consumer: rows serialize in that
    * consumer's declared format, append to its endpoint's log with the
    * first column's text as the partition key ([[ShardedLog.putRecords]]
    * hash-range routing), and then flow through parse → views exactly
    * like any put record. When several consumers feed the relation, the
    * row must be written exactly once (each consumer's parse appends to
    * the same stream table), so the INSERT routes through the consumer
    * whose running queries maintain the relation's views — the rest feed
    * only the table (see [[consumeBegin]]) and a row carried by them
    * would never reach a continuous view. Ties / none running → the
    * lowest consumer id, for determinism. */
  private def insertIntoStream(relation: String, colList: Option[String],
                               valuesTail: String): DataFrame = synchronized {
    val schema = streams.getOrElse(relation,
      throw new IllegalArgumentException(s"no stream '$relation'"))
    val bound = consumers.values.filter(_.relation == relation).toSeq
    require(bound.nonEmpty,
      s"INSERT INTO $relation: no consumer binds the stream to a log — " +
        "consume_begin first; the INSERT routes through a bound " +
        "consumer's endpoint and format")
    val viewNames = views.collect {
      case (vn, v) if v.relation == relation => vn
    }.toSet
    val c = bound.find(b => running.getOrElse(b.id, Nil)
        .exists(q => viewNames.contains(q.name)))
      .getOrElse(bound.minBy(_.id))
    val ep = endpoints(c.endpoint)
    val cols = colList.map(_.split(",").map(_.trim).toSeq)
      .getOrElse(schema.fieldNames.toSeq)
    val idx = cols.map(n => schema.fieldNames.indexOf(n))
    require(idx.forall(_ >= 0),
      s"unknown column among (${cols.mkString(", ")}) for stream '$relation'")
    val rows = KinesisEngine.valueRows(valuesTail)
    require(rows.nonEmpty, "INSERT: no VALUES rows")
    val recs = rows.map { r =>
      val toks = KinesisEngine.ValTok.findAllMatchIn(r).map { m =>
        if (m.group(3) != null) (null: String, "null")
        else if (m.group(2) != null) (m.group(2), m.group(2))
        else if (m.group(4) != null)
          (m.group(4).toLowerCase, m.group(4).toLowerCase)
        else { val v = m.group(1).replace("''", "'"); (v, jsonStr(v)) }
      }.toSeq
      require(toks.size == cols.size,
        s"INSERT row ($r): ${toks.size} values for ${cols.size} columns")
      val slotS = Array.fill[String](schema.size)(null)
      val slotJ = Array.fill[String](schema.size)("null")
      toks.zip(idx).foreach { case ((sv, jv), i) => slotS(i) = sv; slotJ(i) = jv }
      val data = c.format match {
        case "text" => slotS(0)
        case "csv" =>
          // no quoting machinery here: a value the consumer's parse would
          // mis-split must be refused loudly, not corrupted silently
          slotS.filter(_ != null).foreach { v =>
            require(!v.contains(c.delimiter) && !v.contains("\n") &&
                    !v.contains("\r") &&
                    !Option(c.quote).exists(v.contains) && !v.contains("\""),
              s"INSERT into csv-format stream '$relation': value '$v' " +
                "contains the delimiter/quote/newline — use a json-format " +
                "consumer for such payloads")
          }
          slotS.map(v => Option(v).getOrElse("")).mkString(c.delimiter)
        case "json" => schema.fieldNames.zip(slotJ)
          .map { case (n, v) => jsonStr(n) + ":" + v }.mkString("{", ",", "}")
        case other => throw new IllegalArgumentException(
          s"INSERT INTO a '$other'-format stream is not supported")
      }
      (Option(slotS(0)).getOrElse(""),
        if (data == null) null else
          data.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val dir = s"${ep.url}/${c.stream}"
    val nShards = math.max(ShardedLog.shardFiles(dir).size, 1)
    ShardedLog.putRecords(dir, nShards, recs)
    result1(recs.size.toString)
  }

  /** The SQL surface a pipeline_kinesis user already has, verbatim
    * (pipeline_kinesis--0.9.0.sql:33-83 function signatures; PipelineDB
    * CREATE STREAM / CREATE CONTINUOUS VIEW|TRANSFORM / DROP DDL from
    * reference README.md:60-117) — so a reference deployment's scripts
    * run against the engine with the engine as the SQL endpoint:
    *
    *  - `SELECT pipeline_kinesis.add_endpoint('ep','region'[,credfile,url])`
    *  - `SELECT pipeline_kinesis.consume_begin('ep','stream','rel'
    *    [,format,delimiter,quote,escape,batchsize,parallelism,start_seq
    *    ,poll_ms])` (`poll_ms` = trigger pacing, an engine extension),
    *    0-arg `consume_begin()` / `consume_end()` = the `_all` variants;
    *    `consume_backfill(…)` (engine extension) = the same args driven
    *    through [[consumeBackfill]]'s bounded AvailableNow drain
    *  - `CREATE STREAM s (payload text, ...)` (Postgres column types)
    *  - `CREATE CONTINUOUS VIEW v AS SELECT …` /
    *    `CREATE CONTINUOUS TRANSFORM t AS SELECT …` (the target stream is
    *    the statement's FROM relation; transform-vs-view materialization
    *    is inferred from the plan exactly as in the Scala API)
    *  - `DROP CONTINUOUS VIEW v`, `DROP STREAM s`
    *  - anything else runs as a query with every catalog object readable:
    *    views by name, streams by name (their persistent tables), and the
    *    qualified catalogs `pipeline_kinesis.seqnums` / `.consumers` /
    *    `.endpoints` / `.views`.
    *
    * Sliding-window DDL (`WITH (sw = '1 hour' [, slide = '5 minutes'])`)
    * accepts the restricted combinable grammar — key columns plus
    * AS-aliased `count(*)` / `sum|min|max|avg(col)` — and declares a
    * [[createSlidingView]]; PipelineDB auto-derives the step
    * (sw_step_factor), here the bucket defaults to '1 minute' unless
    * `slide` is given. Anything outside the grammar fails with a pointer
    * to the explicit API rather than misparsing. */
  def sql(stmt: String): DataFrame = {
    val s = stmt.trim.stripSuffix(";").trim
    s match {
      case CreateSwView(name, width, slideOpt, select) =>
        select.trim match {
          case SwSelect(itemList, rel, groupByOpt) =>
            require(synchronized(streams.contains(rel)),
              s"'$rel' is not a declared stream")
            val items = itemList.split(",").map(_.trim).toSeq
            val keys = items.collect { case SwKeyItem(k) => k }
            val aggs = items.collect {
              case SwCountItem(alias) => alias -> "count"
              case SwCountDistinctItem(c, alias) => alias -> s"count_distinct:$c"
              case SwAggItem(fn, c, alias) => alias -> s"${fn.toLowerCase}:$c"
            }
            val bad = items.filterNot(i =>
              SwKeyItem.matches(i) || SwCountItem.matches(i) ||
              SwCountDistinctItem.matches(i) || SwAggItem.matches(i))
            if (bad.nonEmpty || aggs.isEmpty)
              throw swDdlError(name, if (aggs.isEmpty) "no combinable aggregate"
                else s"unsupported select item '${bad.head}'")
            // GROUP BY must list exactly the non-aggregate select columns
            // — silently ignoring it would turn a per-key view global
            val gb = Option(groupByOpt).map(_.split(",").map(_.trim).toSeq)
              .getOrElse(Nil)
            if (gb.map(_.toLowerCase).sorted != keys.map(_.toLowerCase).sorted)
              throw swDdlError(name,
                s"GROUP BY (${gb.mkString(", ")}) must list exactly the " +
                  s"non-aggregate select columns (${keys.mkString(", ")})")
            createSlidingView(name, rel, keys, aggs, width,
              Option(slideOpt).getOrElse("1 minute"))
            result1(name)
          case _ => throw swDdlError(name, "cannot parse the SELECT")
        }
      case FnCall(fn, argList) =>
        val a = parseArgs(argList)
        fn.toLowerCase match {
          case "add_endpoint" =>
            require(a.size >= 2, "add_endpoint(name, region[, credfile, url])")
            addEndpoint(a(0).get, a(1).get,
              a.lift(2).flatten.orNull, a.lift(3).flatten.orNull)
            result1(a(0).get)
          case "remove_endpoint" =>
            require(a.size == 1, "remove_endpoint(name)")
            removeEndpoint(a(0).get); result1(a(0).get)
          case "consume_begin" if a.isEmpty =>
            consumeBeginAll(); result1("ok")
          case "consume_begin" =>
            require(a.size >= 3, "consume_begin(endpoint, stream, relation, …)")
            val id = consumeBegin(a(0).get, a(1).get, a(2).get,
              format = a.lift(3).flatten.getOrElse("text"),
              delimiter = a.lift(4).flatten.getOrElse("\t"),
              quote = a.lift(5).flatten.orNull,
              escape = a.lift(6).flatten.orNull,
              batchsize = a.lift(7).flatten.map(_.toLong).getOrElse(1000L),
              parallelism = a.lift(8).flatten.map(_.toInt).getOrElse(1),
              // reference: start_seq NULL = trim_horizon (pipeline_kinesis.c:922-925)
              startSeq = a.lift(9).flatten.map(_.toLong).getOrElse(-2L),
              // engine extension: trigger pacing (see consumeBegin scaladoc)
              pollMs = a.lift(10).flatten.map(_.toLong).getOrElse(0L))
            result1(id.toString)
          case "consume_end" if a.isEmpty =>
            consumeEndAll(); result1("ok")
          case "consume_end" =>
            require(a.size == 3, "consume_end(endpoint, stream, relation)")
            consumeEnd(a(0).get, a(1).get, a(2).get); result1("ok")
          // engine extension (no reference analog): bounded AvailableNow
          // drain — same arg shape as consume_begin, blocks until drained
          case "consume_backfill" =>
            require(a.size >= 3, "consume_backfill(endpoint, stream, relation, …)")
            val id = consumeBackfill(a(0).get, a(1).get, a(2).get,
              format = a.lift(3).flatten.getOrElse("text"),
              delimiter = a.lift(4).flatten.getOrElse("\t"),
              quote = a.lift(5).flatten.orNull,
              escape = a.lift(6).flatten.orNull,
              batchsize = a.lift(7).flatten.map(_.toLong).getOrElse(1000L),
              parallelism = a.lift(8).flatten.map(_.toInt).getOrElse(1),
              startSeq = a.lift(9).flatten.map(_.toLong).getOrElse(-2L),
              pollMs = a.lift(10).flatten.map(_.toLong).getOrElse(0L))
            result1(id.toString)
        }
      case CreateStream(name, cols) =>
        createStream(name, StructType.fromDDL(pgTypesToSpark(cols)))
        result1(name)
      case CreateView(kind, name, select) =>
        // the view's stream is the statement's FROM relation (PipelineDB
        // resolves it the same way); first FROM target that is a stream
        val rel = """(?is)\bFROM\s+([A-Za-z_]\w*)""".r
          .findAllMatchIn(select).map(_.group(1))
          .find(r => synchronized(streams.contains(r)))
          .getOrElse(throw new IllegalArgumentException(
            s"CREATE CONTINUOUS ${kind.toUpperCase} $name: no declared " +
              "stream in the FROM clause"))
        createContinuousViewSql(name, rel, select)
        result1(name)
      case DropView(name) => dropView(name); result1(name)
      case ActivateView(name) => activate(name); result1(name)
      case DeactivateView(name) => deactivate(name); result1(name)
      case DropStream(name) => dropStream(name); result1(name)
      case DeleteConsumer(ep, st, rel) =>
        removeConsumer(ep, st, rel); result1("ok")
      case InsertStream(rel, colList, valuesTail) =>
        insertIntoStream(rel, Option(colList), valuesTail)
      case query =>
        // plain query: make the catalog readable, then defer to Spark SQL.
        // All catalog-name rewrites and mention checks apply OUTSIDE
        // single-quoted literals only — a query comparing a column to the
        // string 'pipeline_kinesis.seqnums' must not have its data edited.
        var q = KinesisEngine.mapOutsideLiterals(query)(_.replaceAll(
          "(?i)pipeline_kinesis\\.seqnums", "graft_seqnums"))
        // temp views registered for THIS statement shadow, never destroy:
        // a same-named user temp view is captured first and re-registered
        // after the query is analyzed
        val priors = scala.collection.mutable.ListBuffer[(String, Option[DataFrame])]()
        def register(name: String)(df: => DataFrame): Unit = {
          val prior = scala.util.Try {
            if (spark.catalog.tableExists(name) &&
                spark.catalog.getTable(name).isTemporary)
              Some(spark.table(name))
            else None
          }.getOrElse(None)
          scala.util.Try(df.createOrReplaceTempView(name)).foreach { _ =>
            priors += ((name, prior))
          }
        }
        if (q != query) register("graft_seqnums")(seqnums)
        val q1 = KinesisEngine.mapOutsideLiterals(q)(_.replaceAll(
          "(?i)pipeline_kinesis\\.consumers", "graft_consumers"))
        if (q1 != q) {
          import spark.implicits._
          register("graft_consumers")(
            listConsumers.map(c => (c.id, c.endpoint, c.stream, c.relation,
                c.format, c.delimiter, c.batchsize, c.parallelism, c.pollMs))
              .toDF("id", "endpoint", "stream", "relation", "format",
                "delimiter", "batchsize", "parallelism", "poll_ms"))
          q = q1
        }
        val q2 = KinesisEngine.mapOutsideLiterals(q)(_.replaceAll(
          "(?i)pipeline_kinesis\\.endpoints", "graft_endpoints"))
        if (q2 != q) {
          import spark.implicits._
          register("graft_endpoints")(
            listEndpoints.map(e => (e.name, e.region, e.credfile, e.url))
              .toDF("name", "region", "credfile", "url"))
          q = q2
        }
        // catalog of continuous views (PipelineDB's pipeline_views();
        // pipeline_kinesis--0.9.0.sql catalog tables follow the same
        // qualified-name convention)
        val q3 = KinesisEngine.mapOutsideLiterals(q)(_.replaceAll(
          "(?i)pipeline_kinesis\\.views", "graft_views"))
        if (q3 != q) {
          import spark.implicits._
          register("graft_views")(
            synchronized(views.toSeq).map { case (n, v) =>
              (n, v.relation, v.materialize, v.sql.getOrElse(""))
            }.toDF("name", "relation", "materialize", "query"))
          q = q3
        }
        val (vs, sts) = synchronized((views.keys.toSeq, streams.keys.toSeq))
        val code = KinesisEngine.codeOutsideLiterals(q)
        def mentions(name: String): Boolean =
          code.matches("(?is).*\\b" + java.util.regex.Pattern.quote(name) + "\\b.*")
        vs.foreach { v =>
          if (mentions(v))
            // a sliding view's queryable face is the WINDOWED combine —
            // raw bucket partials (internal __sum/__cnt columns, expired
            // buckets) are an implementation detail
            register(v) {
              if (Files.exists(swMetaPath(v))) slidingViewTable(v)
              else viewTable(v)
            }
        }
        sts.foreach { st =>
          if (mentions(st)) register(st)(streamTable(st))
        }
        // spark.sql analyzes eagerly, so the returned frame keeps its
        // resolved plan after the shadowing temp views are rolled back
        try spark.sql(q)
        finally priors.foreach {
          case (name, Some(df)) => df.createOrReplaceTempView(name)
          case (name, None) => spark.catalog.dropTempView(name)
        }
    }
  }

  // --- observability (seqnums view, README.md:119-126) --------------------

  /** List a directory's entries, closing the underlying stream
    * (`Files.list` holds a file handle until closed — leaked handles
    * accumulate under repeated polling). */
  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.list(p)
      try { val it = s.iterator(); val b = Seq.newBuilder[java.nio.file.Path]
            while (it.hasNext) b += it.next(); b.result() }
      finally s.close()
    }

  /** Highest batch id recorded in a checkpoint subdirectory (offsets/ or
    * commits/ — files are named by batch id). */
  private def maxBatchId(dir: java.nio.file.Path): Option[Long] = {
    val ids = listDir(dir).map(_.getFileName.toString).filter(_.forall(_.isDigit))
    if (ids.isEmpty) None else Some(ids.map(_.toLong).max)
  }

  /** Monotone tail cache per log directory: repeated seqnums polls scan
    * only bytes appended since the previous poll (the
    * ShardedLogMicroBatchStream.advanceTail pattern), never the whole log. */
  private def tailFor(dir: String): ShardedLog.TailCache =
    synchronized(tails.getOrElseUpdate(dir, new ShardedLog.TailCache(dir)))

  /** Per-(consumer, shard) committed sequence number plus how far behind
    * the shard tip it is, in records and in milliseconds — the reference's
    * seqnums table + millisBehindLatest (pipeline_kinesis--0.9.0.sql:26-31;
    * kinesis_consumer.cpp:446-465). `millis_behind_latest` = now − arrival
    * time of the first unconsumed record (0 when fully drained). BOTH lag
    * columns are null when the log is unreachable (e.g. a partially-saved
    * catalog row) — unknown lag is never reported as drained.
    *
    * COMMITTED means exactly that: the reported batch's offsets are only
    * used once `commits/<id>` exists, matching the reference's
    * upsert-after-COPY semantics (pipeline_kinesis.c:543-579) — the
    * offsets log alone is a write-ahead *intent* and would over-report
    * after a crash between offset write and batch commit. */
  def seqnums: DataFrame = {
    import spark.implicits._
    import ShardedLog.ShardPos
    val (consumerById, eps) = synchronized {
      (consumers.values.map(c => c.id -> c).toMap, endpoints.toMap)
    }
    // like the reference's persistent seqnums table, stopped consumers
    // still report their committed position (and accumulate lag)
    val ids = consumerById.keys.toSeq.sorted
      .filter(id => Files.exists(Paths.get(s"$metaDir/checkpoints/$id")))
    val now = System.currentTimeMillis()
    val rows = ids.flatMap { id =>
      val committed = listDir(Paths.get(s"$metaDir/checkpoints/$id"))
        .flatMap { vdir =>
          maxBatchId(vdir.resolve("commits")).toSeq.flatMap { batch =>
            val offF = vdir.resolve("offsets").resolve(batch.toString)
            if (!Files.exists(offF)) Nil
            else {
              // offset-log format: v1 header, metadata json, then one
              // offset json line per source — ours is the
              // {shard: [bytePos, nextSeq]} map. readAllLines closes.
              import scala.jdk.CollectionConverters._
              Files.readAllLines(offF).asScala.toSeq.drop(2)
                .filter(l => l.startsWith("{") && l.contains(":"))
                .flatMap(l => ShardedLog.parseOffsetJson(l).toSeq)
            }
          }
        }
      if (committed.isEmpty) Nil
      else {
        // Multiple standing queries (stream table + each view) checkpoint
        // independently; report the furthest-committed seqnum per shard —
        // every reported record is durably ingested by at least one query
        // (each query's own checkpoint protects the laggards from loss).
        val best = committed.groupBy(_._1)
          .map { case (shard, xs) => shard -> xs.map(_._2).maxBy(_.recs) }
        // guarded lookup: a consumers.tsv row whose endpoint is missing
        // (non-atomic multi-file catalog save interrupted by a crash) must
        // degrade to unknown lag, not throw.
        val dirOpt = consumerById.get(id).flatMap(c =>
          eps.get(c.endpoint).map(e => s"${e.url}/${c.stream}"))
        val latest = dirOpt.map(tailFor(_).advance())
          .getOrElse(Map.empty[String, ShardPos])
        best.toSeq.map { case (shard, p) =>
          // unknown lag (log dir unresolvable — e.g. a crash-torn catalog
          // row) reports NULL in BOTH lag columns: degrading records to 0
          // would read as "fully drained" and mask real lag in monitoring
          val behindRecs: java.lang.Long =
            if (dirOpt.isEmpty) null
            else java.lang.Long.valueOf(latest.get(shard)
              .map(t => math.max(t.recs - p.recs, 0L)).getOrElse(0L))
          val millis: java.lang.Long =
            if (behindRecs == null) null
            else if (behindRecs.longValue() == 0L) java.lang.Long.valueOf(0L)
            else dirOpt.flatMap { d =>
              ShardedLog.arrivalTsAt(new java.io.File(d, shard), p.bytes)
                .map(ts => math.max(now - ts, 0L))
            }.map(java.lang.Long.valueOf).orNull
          (id, shard.stripSuffix(".log"), p.recs, behindRecs, millis)
        }
      }
    }
    rows.toDF("consumer_id", "shard_id", "seqnum", "records_behind_latest",
      "millis_behind_latest")
  }
}

/** Pure SQL-text helpers, instance-state-free so they live on the
  * companion and are property-testable without a SparkSession
  * (PropertySpec). */
object KinesisEngine {
  /** PipelineDB parity for CV DDL: `count(DISTINCT x)` in a continuous
    * view is HLL-approximate BY DESIGN in PipelineDB (fixed-size per-group
    * state), and Spark streaming rejects exact distinct aggregation
    * outright — so the front-end applies the same HLL substitution,
    * rewriting to `approx_count_distinct`. Balanced-paren scan, so nested
    * calls (`count(DISTINCT upper(u))`) rewrite correctly; a multi-column
    * distinct is wrapped in a struct (one hashed value, same semantics).
    * Batch SQL over view/stream tables is untouched — exact distinct
    * stays exact there. */
  private[graft] def rewriteCountDistinct(sql: String): String = {
    val pat = "(?i)count\\s*\\(\\s*distinct\\b".r
    // Every scan here is QUOTE- and COMMENT-AWARE, matching sqlSegments'
    // model of Spark's lexer: the three quote kinds — '…' string literals,
    // "…" literals (Spark's default double-quote strings), and `…` quoted
    // identifiers, each with doubled-quote escapes and (for the string
    // kinds) backslash escapes — plus `--` line comments and non-nested
    // `/* */` block comments. That covers both directions of the hazard:
    // a '(' / ')' / ',' / quote inside a literal or comment must not
    // perturb depth tracking, argument splitting, or quote state, and a
    // literal or comment CONTAINING the text "count(distinct …" must not
    // itself be rewritten.
    def isQuote(c: Char) = c == '\'' || c == '"' || c == '`'
    // One step of the scanner state machine: (in-quote char or NUL for
    // none, position) → (new state, next position). Outside quotes a
    // comment opener is consumed atomically — positions inside comments
    // are never visited, so callers' per-char checks see code only.
    def step(s: String, i: Int, q: Char): (Char, Int) = {
      val c = s(i)
      if (q != '\u0000') {
        if (c == '\\' && q != '`' && i + 1 < s.length) (q, i + 2)
        else if (c != q) (q, i + 1)
        else if (i + 1 < s.length && s(i + 1) == q) (q, i + 2)
        else ('\u0000', i + 1)
      } else if (c == '-' && i + 1 < s.length && s(i + 1) == '-') {
        val nl = s.indexOf('\n', i + 2)
        ('\u0000', if (nl < 0) s.length else nl)
      } else if (c == '/' && i + 1 < s.length && s(i + 1) == '*') {
        val end = s.indexOf("*/", i + 2)
        ('\u0000', if (end < 0) s.length else end + 2)
      } else if (isQuote(c)) (c, i + 1)
      else (q, i + 1)
    }
    @annotation.tailrec
    def go(s: String): String = {
      // find the first count(DISTINCT whose match site is OUTSIDE quotes
      var i = 0; var q = '\u0000'; var site = -1
      while (i < s.length && site < 0) {
        val c = s(i)
        if (q == '\u0000' && (c == 'c' || c == 'C') &&
            (i == 0 || (!Character.isLetterOrDigit(s(i - 1)) &&
                        s(i - 1) != '_')) &&
            pat.findPrefixMatchOf(s.subSequence(i, s.length)).isDefined)
          site = i
        else { val (nq, ni) = step(s, i, q); q = nq; i = ni }
      }
      if (site < 0) s
      else {
        val m = pat.findPrefixMatchOf(s.subSequence(site, s.length)).get
        val argStart = site + m.end
        var depth = 1
        var j = s.indexOf('(', site) + 1
        var q1 = '\u0000'
        while (depth > 0 && j < s.length) {
          if (q1 == '\u0000') s(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          val (nq, nj) = step(s, j, q1); q1 = nq; j = nj
        }
        require(depth == 0 && q1 == '\u0000',
          s"unbalanced parentheses or unterminated quote in: $sql")
        val arg = s.substring(argStart, j - 1).trim
        // top-level comma = multi-column distinct → hash one struct value
        var d2 = 0; var q2 = '\u0000'; var multi = false; var k = 0
        while (k < arg.length) {
          if (q2 == '\u0000') arg(k) match {
            case '(' => d2 += 1
            case ')' => d2 -= 1
            case ',' if d2 == 0 => multi = true
            case _ =>
          }
          val (nq, nk) = step(arg, k, q2); q2 = nq; k = nk
        }
        val inner = if (multi) s"struct($arg)" else arg
        go(s.substring(0, site) + s"approx_count_distinct($inner)" +
           s.substring(j))
      }
    }
    go(sql)
  }

  /** Split a SQL text into alternating code / non-code segments, where
    * non-code is anything whose content must never be rewritten or
    * mention-checked: single-quoted literals (with `''` and `\'` escapes —
    * Spark's default lexer, `escapedStringLiterals` off), double-quoted
    * literals (Spark treats `"…"` as a STRING unless
    * `doubleQuotedIdentifiers` is on, which this engine never sets), `--`
    * line comments, and `/* */` block comments. Literals keep their
    * quotes; an unterminated literal/comment extends to end-of-string. */
  private[graft] def sqlSegments(q: String): Seq[(String, Boolean)] = {
    val out = Seq.newBuilder[(String, Boolean)]
    var i = 0; var start = 0
    def emit(end: Int): Unit = {
      out += ((q.substring(start, i), false))
      out += ((q.substring(i, end), true))
      start = end; i = end
    }
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\'' || c == '"') {
        var j = i + 1; var done = false
        while (j < q.length && !done) {
          val cj = q.charAt(j)
          if (cj == '\\' && j + 1 < q.length) j += 2
          else if (cj == c && j + 1 < q.length && q.charAt(j + 1) == c) j += 2
          else if (cj == c) { done = true; j += 1 }
          else j += 1
        }
        emit(j)
      } else if (c == '-' && i + 1 < q.length && q.charAt(i + 1) == '-') {
        var j = i + 2
        while (j < q.length && q.charAt(j) != '\n') j += 1
        emit(j)
      } else if (c == '/' && i + 1 < q.length && q.charAt(i + 1) == '*') {
        var j = i + 2
        while (j + 1 < q.length && !(q.charAt(j) == '*' && q.charAt(j + 1) == '/')) j += 1
        emit(if (j + 1 < q.length) j + 2 else q.length)
      } else i += 1
    }
    out += ((q.substring(start), false))
    out.result()
  }

  /** Apply `f` to the non-literal segments of `q` only. */
  private[graft] def mapOutsideLiterals(q: String)(f: String => String): String =
    sqlSegments(q).map { case (s, lit) => if (lit) s else f(s) }.mkString

  /** The non-literal text of `q` (literals blanked to a space so tokens
    * on either side of one never merge). */
  private[graft] def codeOutsideLiterals(q: String): String =
    sqlSegments(q).map { case (s, lit) => if (lit) " " else s }.mkString

  // literal tokens inside one VALUES row
  private[graft] val ValTok =
    """(?i)'((?:[^']|'')*)'|(-?\d+(?:\.\d+)?)|(NULL)|(TRUE|FALSE)""".r

  /** Split a VALUES tail into its top-level parenthesized row groups,
    * quote-aware (parens inside string literals don't count). */
  private[graft] def valueRows(tail: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inQ = false; var start = -1
    var i = 0
    while (i < tail.length) {
      val c = tail.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '(' => if (depth == 0) start = i + 1; depth += 1
        case ')' => depth -= 1; if (depth == 0) { out += tail.substring(start, i) }
        case _ =>
      }
      i += 1
    }
    out.result()
  }
}
