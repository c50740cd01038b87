package graft

import graft.sources.ShardedLog
import graft.streaming.KinesisEngine

/** The reference's SQL surface, end to end: a pipeline_kinesis user's
  * session script (reference README.md:60-126) runs verbatim against
  * `eng.sql` — add_endpoint → CREATE STREAM → CREATE CONTINUOUS VIEW →
  * consume_begin → query the view → seqnums → consume_end → DROP. */
class SqlFrontendSpec extends SparkSpec {

  test("a reference SQL session runs against eng.sql verbatim") {
    val root = tmpDir("sqlfe-root"); val meta = tmpDir("sqlfe-meta")
    ShardedLog.append(s"$root/s", 0, Seq(("k1", "x"), ("k2", "y"), ("k3", "x")))
    val eng = new KinesisEngine(spark, meta)

    eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep', 'us-west-2', NULL, '$root');")
    eng.sql("CREATE STREAM foo_stream (payload text)")
    eng.sql("CREATE CONTINUOUS VIEW foo_view AS " +
      "SELECT payload, count(*) AS n FROM foo_stream GROUP BY payload")
    val id = eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's', 'foo_stream')")
      .head().getString(0)
    assert(id.toInt >= 1, "consume_begin returns the consumer id, like the reference")
    eng.processAllAvailable()

    // the view is queryable by name, exactly like `SELECT * FROM foo_view`
    val rows = eng.sql("SELECT * FROM foo_view ORDER BY payload").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(rows === Seq("x" -> 2L, "y" -> 1L))

    // observability view under its reference-qualified name
    val sq = eng.sql("SELECT * FROM pipeline_kinesis.seqnums ORDER BY shard_id")
      .collect()
    assert(sq.length === 1 && sq.head.getLong(2) === 3L)

    // stateless CREATE CONTINUOUS TRANSFORM: append materialization
    eng.sql("CREATE CONTINUOUS TRANSFORM foo_upper AS " +
      "SELECT upper(payload) AS p FROM foo_stream")
    eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's', 'foo_stream')")
    eng.processAllAvailable()
    assert(eng.sql("SELECT * FROM foo_upper ORDER BY p").collect()
      .map(_.getString(0)).toSeq === Seq("X", "X", "Y"))

    // full-signature consume_begin with Postgres-style E'\t' delimiter
    eng.sql("CREATE STREAM bar_stream (payload text)")
    eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's', 'bar_stream', " +
      "'text', E'\\t', NULL, NULL, 500, 2, NULL)")
    eng.processAllAvailable()
    assert(eng.sql("SELECT count(*) AS c FROM bar_stream").head().getLong(0) === 3L)

    // sliding-window DDL points at the explicit API instead of misparsing
    val e = intercept[IllegalArgumentException](eng.sql(
      "CREATE CONTINUOUS VIEW sw_v WITH (sw = '1 hour') AS SELECT count(*) FROM foo_stream"))
    assert(e.getMessage.contains("createSlidingView"))

    // the reference's catalog tables are plain SQL-queryable
    assert(eng.sql("SELECT count(*) AS c FROM pipeline_kinesis.endpoints")
      .head().getLong(0) === 1L)
    assert(eng.sql("SELECT relation FROM pipeline_kinesis.consumers ORDER BY id")
      .collect().map(_.getString(0)).toSeq === Seq("foo_stream", "bar_stream"))

    // teardown via the same surface, including the reference's DELETE idiom
    eng.sql("SELECT pipeline_kinesis.consume_end()")
    eng.sql("DROP CONTINUOUS VIEW foo_upper")
    eng.sql("DROP CONTINUOUS VIEW foo_view")
    eng.sql("DELETE FROM pipeline_kinesis.consumers WHERE endpoint = 'ep' " +
      "AND stream = 's' AND relation = 'foo_stream'")
    eng.sql("DELETE FROM pipeline_kinesis.consumers WHERE endpoint = 'ep' " +
      "AND \"stream\" = 's' AND relation = 'bar_stream'")
    eng.sql("DROP STREAM foo_stream")
    eng.sql("DROP STREAM bar_stream")
    assert(eng.listStreams.isEmpty)
    eng.sql("SELECT pipeline_kinesis.remove_endpoint('ep')")
    assert(eng.listEndpoints.isEmpty)
  }

  test("consume_backfill in SQL: bounded drain, returns after stopping") {
    val root = tmpDir("sqlfe-bf-root"); val meta = tmpDir("sqlfe-bf-meta")
    ShardedLog.append(s"$root/s", 0, Seq(("a", "a"), ("b", "b"), ("a", "a")))
    val eng = new KinesisEngine(spark, meta)
    eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep', 'r', NULL, '$root')")
    eng.sql("CREATE STREAM bf_stream (payload text)")
    eng.sql("CREATE CONTINUOUS VIEW bf_view AS " +
      "SELECT payload, count(*) AS n FROM bf_stream GROUP BY payload")
    val id = eng.sql("SELECT pipeline_kinesis.consume_backfill('ep', 's', 'bf_stream')")
      .head().getString(0)
    assert(id.toInt >= 1)
    // no processAllAvailable needed: the statement returns after the drain
    assert(eng.activeQueries.isEmpty)
    assert(eng.sql("SELECT * FROM bf_view ORDER BY payload").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq === Seq("a" -> 2L, "b" -> 1L))
  }

  test("continuous views can join the stream against a dimension table") {
    // PipelineDB CVs may join a stream with regular tables; here the
    // dimension is any table registered in the Spark session and the CV
    // is declared in SQL over both
    val root = tmpDir("sjoin-root"); val meta = tmpDir("sjoin-meta")
    ShardedLog.append(s"$root/s", 0, Seq(("a", "us"), ("b", "de"), ("c", "us")))
    val eng = new KinesisEngine(spark, meta)
    import spark.implicits._
    Seq(("us", "United States"), ("de", "Germany"))
      .toDF("code", "country").createOrReplaceTempView("dim_country")
    eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep', 'r', NULL, '$root')")
    eng.sql("CREATE STREAM geo_stream (code text)")
    eng.sql("CREATE CONTINUOUS VIEW geo_view AS " +
      "SELECT d.country, count(*) AS n FROM geo_stream g " +
      "JOIN dim_country d ON g.code = d.code GROUP BY d.country")
    eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's', 'geo_stream')")
    eng.processAllAvailable()
    assert(eng.sql("SELECT * FROM geo_view ORDER BY country").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq ===
        Seq("Germany" -> 1L, "United States" -> 2L),
      "stream-table join maintained incrementally")
    eng.sql("SELECT pipeline_kinesis.consume_end()")
  }

  test("count(DISTINCT) in CV DDL runs HLL-backed, like PipelineDB") {
    // PipelineDB's count(DISTINCT) in a continuous view is HLL-approximate
    // by design (fixed-size state); Spark streaming rejects exact distinct
    // aggregation, so the front-end applies the same substitution and the
    // user's DDL runs verbatim. Exact on this small domain.
    val root = tmpDir("cdv-root"); val meta = tmpDir("cdv-meta")
    ShardedLog.append(s"$root/s", 0, Seq(
      ("k1", "click,u1"), ("k2", "click,u2"), ("k3", "view,u1"),
      ("k4", "click,u1")))
    val eng = new KinesisEngine(spark, meta)
    eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep', 'r', NULL, '$root')")
    eng.sql("CREATE STREAM cd_stream (etype text, usr text)")
    eng.sql("CREATE CONTINUOUS VIEW cd_view AS " +
      "SELECT etype, count(DISTINCT usr) AS n_users " +
      "FROM cd_stream GROUP BY etype")
    eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's', 'cd_stream', " +
      "'csv', ',')")
    eng.processAllAvailable()
    assert(eng.sql("SELECT * FROM cd_view ORDER BY etype").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq ===
        Seq("click" -> 2L, "view" -> 1L),
      "duplicate user counted once per group")
    eng.sql("SELECT pipeline_kinesis.consume_end()")
  }

  test("rewriteCountDistinct handles nesting, multi-column, and case") {
    assert(KinesisEngine.rewriteCountDistinct("SELECT COUNT ( DISTINCT upper(u) ) FROM t")
      === "SELECT approx_count_distinct(upper(u)) FROM t")
    assert(KinesisEngine.rewriteCountDistinct("SELECT count(DISTINCT a, b) FROM t")
      === "SELECT approx_count_distinct(struct(a, b)) FROM t")
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT k, count(*) AS n, count(distinct u) AS d FROM t GROUP BY k")
      === "SELECT k, count(*) AS n, approx_count_distinct(u) AS d FROM t GROUP BY k")
    // plain count(*) and column names containing "distinct" are untouched
    assert(KinesisEngine.rewriteCountDistinct("SELECT count(*), sum(distinct_total) FROM t")
      === "SELECT count(*), sum(distinct_total) FROM t")
    // parens/commas INSIDE string literals must not perturb the depth or
    // argument scan — including SQL's '' escape
    assert(KinesisEngine.rewriteCountDistinct("SELECT count(DISTINCT concat(u, '(')) FROM t")
      === "SELECT approx_count_distinct(concat(u, '(')) FROM t")
    assert(KinesisEngine.rewriteCountDistinct("SELECT count(DISTINCT concat(u, '),')) FROM t")
      === "SELECT approx_count_distinct(concat(u, '),')) FROM t")
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT count(DISTINCT concat(u, 'it''s (odd,')) FROM t")
      === "SELECT approx_count_distinct(concat(u, 'it''s (odd,')) FROM t")
    // Spark's default double-quoted string literals and backtick-quoted
    // identifiers get the same treatment as '…'
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT count(DISTINCT concat(u, \"(\")) FROM t")
      === "SELECT approx_count_distinct(concat(u, \"(\")) FROM t")
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT count(DISTINCT `weird(col,`) FROM t")
      === "SELECT approx_count_distinct(`weird(col,`) FROM t")
    // a literal whose CONTENT spells count(distinct …) is content, not
    // syntax — the match site itself must be quote-aware
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT count(*) AS n, 'count(distinct u)' AS note FROM t")
      === "SELECT count(*) AS n, 'count(distinct u)' AS note FROM t")
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT 'count(distinct a)' AS doc, count(DISTINCT b) AS d FROM t")
      === "SELECT 'count(distinct a)' AS doc, approx_count_distinct(b) AS d FROM t")
    // backslash escapes inside '…'/"…" (Spark's default lexer) — a \'
    // must not leave the scanner stuck in-quote; in backticks a backslash
    // is plain content
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT count(DISTINCT replace(u, '\\'', '')) FROM t")
      === "SELECT approx_count_distinct(replace(u, '\\'', '')) FROM t")
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT count(DISTINCT concat(u, \"\\\"),\")) FROM t")
      === "SELECT approx_count_distinct(concat(u, \"\\\"),\")) FROM t")
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT count(DISTINCT `a\\b`) FROM t")
      === "SELECT approx_count_distinct(`a\\b`) FROM t")
    // -- line comments and /* */ block comments are skipped like
    // sqlSegments does: unbalanced parens/quotes inside them must not
    // throw or perturb the scan, and commented-out count(distinct …)
    // must not be rewritten
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT count(DISTINCT a) FROM t -- count(distinct b")
      === "SELECT approx_count_distinct(a) FROM t -- count(distinct b")
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT count(DISTINCT a) FROM t -- don't")
      === "SELECT approx_count_distinct(a) FROM t -- don't")
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT count(DISTINCT a) /* ) '( */ FROM t")
      === "SELECT approx_count_distinct(a) /* ) '( */ FROM t")
    // a comment splicing the count( … DISTINCT keywords defeats the match
    // pattern — the statement passes through untouched (exact distinct),
    // never corrupted
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT count(/* n.b. ( */DISTINCT a) FROM t")
      === "SELECT count(/* n.b. ( */DISTINCT a) FROM t")
    // a comment BETWEEN lines with the rewrite on the next line
    assert(KinesisEngine.rewriteCountDistinct(
        "SELECT -- count(distinct x(\n count(DISTINCT a) FROM t")
      === "SELECT -- count(distinct x(\n approx_count_distinct(a) FROM t")
  }

  test("session_window CV with a non-bare time column fails at CREATE, not at start") {
    val eng = new KinesisEngine(spark, tmpDir("sessbad-meta"))
    // cast(ts …) is not a bare stream column: the watermark can't be
    // derived, and deferring surfaces only Spark's opaque append-without-
    // watermark failure when the streaming query eventually starts
    val e = intercept[IllegalArgumentException](
      eng.createContinuousViewSql("sessbad_view", "sessbad_stream",
        "SELECT session_window(cast(ts AS timestamp), '30 seconds') AS w, " +
          "count(*) AS n FROM sessbad_stream " +
          "GROUP BY session_window(cast(ts AS timestamp), '30 seconds')"))
    assert(e.getMessage.contains("watermark") &&
           e.getMessage.contains("session_window"),
      s"expected a descriptive front-end error, got: ${e.getMessage}")
  }

  test("pipeline_kinesis.views lists the CV catalog in SQL") {
    val eng = new KinesisEngine(spark, tmpDir("pv-meta"))
    eng.sql("CREATE STREAM pv_stream (k text, v integer)")
    eng.sql("CREATE CONTINUOUS VIEW pv_sums AS " +
      "SELECT k, sum(v) AS total FROM pv_stream GROUP BY k")
    val rows = eng.sql(
        "SELECT name, relation, materialize FROM pipeline_kinesis.views " +
        "ORDER BY name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(rows === Seq(("pv_sums", "pv_stream", "parquet")))
    // a literal naming the catalog is data, not a catalog reference
    assert(eng.sql("SELECT 'pipeline_kinesis.views' AS s").head().getString(0)
      === "pipeline_kinesis.views")
    eng.dropView("pv_sums")
    assert(eng.sql("SELECT count(*) AS n FROM pipeline_kinesis.views")
      .head().getLong(0) === 0L)
  }

  test("a legacy non-derivable session-window view loads leniently from the catalog") {
    // Pre-strict-era catalogs may hold a session-window view whose
    // watermark can't be derived (previously accepted at CREATE). The
    // loader must tolerate it: a throw inside loadCatalog would make the
    // whole engine unconstructible — with no engine left to DROP the
    // offending view through.
    val meta = tmpDir("sesslegacy-meta")
    val eng = new KinesisEngine(spark, meta)
    eng.sql("CREATE STREAM legacy_stream (ts timestamp, u text)")
    eng.sql("CREATE CONTINUOUS VIEW legacy_ok AS " +
      "SELECT u, count(*) AS n FROM legacy_stream GROUP BY u")
    val vf = java.nio.file.Paths.get(meta, "views.tsv")
    def b64(s: String) = // the catalog's field encoding
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val bad = Seq("legacy_sess", "legacy_stream",
      "SELECT session_window(cast(ts AS timestamp), '30 seconds') AS w, " +
        "count(*) AS n FROM legacy_stream " +
        "GROUP BY session_window(cast(ts AS timestamp), '30 seconds')",
      "parquet").map(b64).mkString("\t")
    java.nio.file.Files.writeString(vf,
      java.nio.file.Files.readString(vf) + "\n" + bad)
    val eng2 = new KinesisEngine(spark, meta) // must not throw
    eng2.dropView("legacy_sess") // and the bad view is droppable through it
    val eng3 = new KinesisEngine(spark, meta)
    assert(eng3.listViews.contains("legacy_ok") &&
           !eng3.listViews.contains("legacy_sess"))
  }

  test("INSERT INTO stream VALUES feeds the pipeline through the bound consumer") {
    val root = tmpDir("ins-root"); val meta = tmpDir("ins-meta")
    val eng = new KinesisEngine(spark, meta)
    eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep', 'r', NULL, '$root')")
    eng.sql("CREATE STREAM ins_stream (k text, v integer)")
    eng.sql("CREATE CONTINUOUS VIEW ins_view AS " +
      "SELECT k, sum(v) AS total FROM ins_stream GROUP BY k")
    // INSERT requires the log binding — helpful error before consume_begin
    val e = intercept[IllegalArgumentException](
      eng.sql("INSERT INTO ins_stream VALUES ('x', 1)"))
    assert(e.getMessage.contains("consume_begin"))
    eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's', 'ins_stream', 'csv', ',')")
    eng.sql("INSERT INTO ins_stream VALUES ('x', 1), ('y', 2), ('x', 3)")
    eng.sql("INSERT INTO ins_stream (v, k) VALUES (10, 'y')") // column list
    // a value the csv parse would mis-split is refused, never corrupted
    val csvErr = intercept[IllegalArgumentException](
      eng.sql("INSERT INTO ins_stream VALUES ('a,b', 1)"))
    assert(csvErr.getMessage.contains("delimiter"))
    eng.processAllAvailable()
    assert(eng.sql("SELECT * FROM ins_view ORDER BY k").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq ===
        Seq("x" -> 4L, "y" -> 12L),
      "inserted rows flow parse -> view exactly like put records")
    eng.sql("SELECT pipeline_kinesis.consume_end()")

    // json-format stream: literals keep their JSON types
    val root2 = tmpDir("ins2-root")
    eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep2', 'r', NULL, '$root2')")
    eng.sql("CREATE STREAM ins_json (k text, v integer)")
    eng.sql("SELECT pipeline_kinesis.consume_begin('ep2', 's', 'ins_json', 'json')")
    eng.sql("INSERT INTO ins_json VALUES ('a''b', 7), (NULL, 8)")
    eng.processAllAvailable()
    val got = eng.streamTable("ins_json").collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0)) -> r.getInt(1))
      .sortBy(_._2).toSeq
    assert(got === Seq("a'b" -> 7, (null: String) -> 8),
      "quoted quotes and NULLs survive the json serialization round-trip")
    eng.sql("SELECT pipeline_kinesis.consume_end()")
  }

  test("INSERT INTO a multi-consumer stream routes through the view-maintaining consumer") {
    val root = tmpDir("mins-root"); val meta = tmpDir("mins-meta")
    val eng = new KinesisEngine(spark, meta)
    eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep', 'r', NULL, '$root')")
    eng.sql("CREATE STREAM multi_stream (k text, v integer)")
    // consumer A starts before any view exists: it feeds only the table
    eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's1', 'multi_stream', 'csv', ',')")
    eng.sql("CREATE CONTINUOUS VIEW multi_view AS " +
      "SELECT k, sum(v) AS total FROM multi_stream GROUP BY k")
    // consumer B (higher id) picks up the not-yet-running view
    eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's2', 'multi_stream', 'csv', ',')")
    eng.sql("INSERT INTO multi_stream VALUES ('x', 1), ('x', 2)")
    eng.processAllAvailable()
    assert(eng.streamTable("multi_stream").count() === 2L,
      "rows written exactly once despite two bound consumers")
    assert(eng.sql("SELECT * FROM multi_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq === Seq("x" -> 3L),
      "INSERT routed through the consumer that maintains the views, " +
        "not the lowest-id table-only consumer")
    eng.sql("SELECT pipeline_kinesis.consume_end()")
  }

  test("CREATE CONTINUOUS VIEW WITH (sw = …) declares a sliding view in SQL") {
    val root = tmpDir("swsql-root"); val meta = tmpDir("swsql-meta")
    val dir = s"$root/s"
    def put(recs: Seq[(String, String)], ageMs: Long): Unit =
      ShardedLog.appendBytes(dir, 0,
        recs.map { case (k, v) => (k, v.getBytes("UTF-8")) },
        arrivalMillis = System.currentTimeMillis() - ageMs)
    put(Seq(("a", "x,100")), 7200 * 1000L)                   // ages out
    put(Seq(("b", "x,10"), ("c", "x,20"), ("d", "y,7")), 30 * 1000L)
    val eng = new KinesisEngine(spark, meta)
    eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep', 'r', NULL, '$root')")
    eng.sql("CREATE STREAM swsql_stream (k text, v integer)")
    eng.sql("CREATE CONTINUOUS VIEW swsql_view " +
      "WITH (sw = '1 HOUR', slide = '5 minutes') AS " +
      "SELECT k, count(*) AS n, avg(v) AS mean FROM swsql_stream GROUP BY k")
    eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's', 'swsql_stream', 'csv', ',')")
    eng.processAllAvailable(); eng.consumeEndAll()
    val m = eng.slidingViewTable("swsql_view").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(m === Map("x" -> ((2L, 15.0)), "y" -> ((1L, 7.0))),
      "SQL-declared sliding view ages out the 2-hour-old record")
    // querying the sw view BY NAME in SQL serves the windowed combine —
    // never raw bucket partials with internal __sum/__cnt columns
    val viaSql = eng.sql("SELECT k, n, mean FROM swsql_view ORDER BY k")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(viaSql === m, "SELECT from a sliding view = its window result")
    // GROUP BY must match the non-aggregate select columns exactly
    val gbErr = intercept[IllegalArgumentException](eng.sql(
      "CREATE CONTINUOUS VIEW sw_bad WITH (sw = '1 HOUR') AS " +
        "SELECT count(*) AS n FROM swsql_stream GROUP BY k"))
    assert(gbErr.getMessage.contains("GROUP BY"))
  }

  test("session_window CV declared in SQL auto-materializes append-mode") {
    // a PipelineDB-style user writes the sessionization CV as plain SQL;
    // the engine detects session_window in the analyzed plan and switches
    // to append materialization (update mode is rejected by Spark and
    // would strand stale sub-sessions in the merge anyway)
    val root = tmpDir("sess-sql-root"); val meta = tmpDir("sess-sql-meta")
    ShardedLog.append(s"$root/s", 0, Seq(
      ("k", "2024-01-01 00:00:00,u1"), ("k", "2024-01-01 00:10:00,u1"),
      ("k", "2024-01-01 02:00:00,u2")))   // pushes watermark past u1's end
    val eng = new KinesisEngine(spark, meta)
    eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep', 'r', NULL, '$root')")
    eng.sql("CREATE STREAM sess_sql_stream (ts timestamp, usr text)")
    eng.sql("CREATE CONTINUOUS VIEW sess_sql_view AS " +
      "SELECT session_window(ts, '15 minutes') AS sw, usr, count(*) AS n " +
      "FROM sess_sql_stream GROUP BY session_window(ts, '15 minutes'), usr")
    eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's', 'sess_sql_stream', 'csv', ',')")
    eng.processAllAvailable()
    val rows = eng.sql(
        "SELECT CAST(sw.start AS STRING) AS s, usr, n FROM sess_sql_view")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows === Map(("2024-01-01 00:00:00", "u1") -> 2L),
      "u1's fused session finalized; u2's is still open past the watermark")
    eng.sql("SELECT pipeline_kinesis.consume_end()")
  }

  test("an open session survives an engine restart and fuses with new events") {
    // the checkpointed session state must resume: events before shutdown
    // and after restart that fall within one gap belong to ONE session
    val root = tmpDir("sess-rs-root"); val meta = tmpDir("sess-rs-meta")
    ShardedLog.append(s"$root/s", 0, Seq(
      ("k", "2024-01-01 00:00:00,u1"), ("k", "2024-01-01 00:10:00,u1")))
    val eng = new KinesisEngine(spark, meta)
    eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep', 'r', NULL, '$root')")
    eng.sql("CREATE STREAM sess_rs_stream (ts timestamp, usr text)")
    eng.sql("CREATE CONTINUOUS VIEW sess_rs_view AS " +
      "SELECT session_window(ts, '15 minutes') AS sw, usr, count(*) AS n " +
      "FROM sess_rs_stream GROUP BY session_window(ts, '15 minutes'), usr")
    eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's', 'sess_rs_stream', 'csv', ',')")
    eng.processAllAvailable()
    // watermark ≤ 00:10 − 15m: the session is still open, nothing emitted
    assert(eng.viewTable("sess_rs_view").count() === 0)
    eng.consumeEndAll()

    // 00:20 is within one 15m gap of 00:10 — it must EXTEND the session
    // that was open at shutdown; 03:00 closes it via the watermark
    ShardedLog.append(s"$root/s", 0, Seq(
      ("k", "2024-01-01 00:20:00,u1"), ("k", "2024-01-01 03:00:00,u9")))
    val eng2 = new KinesisEngine(spark, meta) // catalog-only restart
    eng2.consumeBeginAll()
    eng2.processAllAvailable()
    val rows = eng2.sql(
        "SELECT CAST(sw.start AS STRING) AS s, usr, n FROM sess_rs_view")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows === Map(("2024-01-01 00:00:00", "u1") -> 3L),
      "one fused session across the restart, not two fragments")
    eng2.consumeEndAll()
  }

  test("sliding-window count(DISTINCT): HLL bucket partials, aged-out values drop") {
    // PipelineDB's sw HLL model: each tumbling bucket keeps a mergeable
    // sketch; the read-time union spans live buckets only, so a value seen
    // solely in an expired bucket no longer counts — and one seen in many
    // buckets counts once. Exact on this small domain.
    val root = tmpDir("swcd-root"); val meta = tmpDir("swcd-meta")
    val dir = s"$root/s"
    def put(recs: Seq[(String, String)], ageMs: Long): Unit =
      ShardedLog.appendBytes(dir, 0,
        recs.map { case (k, v) => (k, v.getBytes("UTF-8")) },
        arrivalMillis = System.currentTimeMillis() - ageMs)
    put(Seq(("a", "x,old_user")), 7200 * 1000L)              // ages out
    put(Seq(("b", "x,u1"), ("c", "x,u2")), 20 * 60 * 1000L)  // older bucket
    put(Seq(("d", "x,u1"), ("e", "y,u9")), 30 * 1000L)       // u1 repeats
    val eng = new KinesisEngine(spark, meta)
    eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep', 'r', NULL, '$root')")
    eng.sql("CREATE STREAM swcd_stream (k text, usr text)")
    eng.sql("CREATE CONTINUOUS VIEW swcd_view " +
      "WITH (sw = '1 HOUR', slide = '5 minutes') AS " +
      "SELECT k, count(DISTINCT usr) AS n_users FROM swcd_stream GROUP BY k")
    eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's', 'swcd_stream', 'csv', ',')")
    eng.processAllAvailable(); eng.consumeEndAll()
    val m = eng.slidingViewTable("swcd_view").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m === Map("x" -> 2L, "y" -> 1L),
      "u1 counted once across buckets; old_user aged out with its bucket")
  }

  test("e2e: backfill drain -> sw count(DISTINCT) view -> TTL reap -> resumed backfill") {
    // The README's manual operational procedure composed end-to-end with
    // the bounded-drain + sliding-HLL + TTL features: seed a shard log
    // spanning days, drain it once (consume_backfill returns only after
    // the AvailableNow queries stop), read the sliding view, reap the
    // stream table, append new records, drain again — the second drain
    // resumes from the checkpoint, never re-ingesting.
    val root = tmpDir("e2e-root"); val meta = tmpDir("e2e-meta")
    val dir = s"$root/s"
    val zone = java.time.ZoneId.systemDefault()
    val todayMid = java.time.LocalDate.now(zone).atStartOfDay(zone)
      .toInstant.toEpochMilli
    val day = 86400 * 1000L; val hour = 3600 * 1000L
    def put(recs: Seq[(String, String)], at: Long): Unit =
      ShardedLog.appendBytes(dir, 0,
        recs.map { case (k, v) => (k, v.getBytes("UTF-8")) }, arrivalMillis = at)
    put(Seq(("a", "x,old_user")), todayMid - 2 * day + 10 * hour) // outside sw AND ttl
    put(Seq(("b", "x,u1"), ("c", "x,u2")), System.currentTimeMillis() - 20 * 60 * 1000L)
    put(Seq(("d", "x,u1"), ("e", "y,u9")), System.currentTimeMillis() - 30 * 1000L)

    val eng = new KinesisEngine(spark, meta)
    eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep', 'r', NULL, '$root')")
    eng.sql("CREATE STREAM e2e_stream (k text, usr text)")
    eng.sql("CREATE CONTINUOUS VIEW e2e_view " +
      "WITH (sw = '1 HOUR', slide = '5 minutes') AS " +
      "SELECT k, count(DISTINCT usr) AS n_users FROM e2e_stream GROUP BY k")
    eng.sql("SELECT pipeline_kinesis.consume_backfill('ep', 's', 'e2e_stream', 'csv', ',')")
    assert(eng.activeQueries.isEmpty, "backfill returns only after the drain")
    assert(eng.streamTable("e2e_stream").count() === 5L)
    def viewMap(): Map[String, Long] = eng.slidingViewTable("e2e_view")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viewMap() === Map("x" -> 2L, "y" -> 1L),
      "old_user aged out of the window; u1 counted once across buckets")

    // Reap: the 2-day-old row leaves the TABLE; the view's windowed state
    // is independent bucket sketches and must not change.
    eng.expireStreamTable("e2e_stream", "25 HOURS", targetPartitions = 1)
    assert(eng.streamTable("e2e_stream").count() === 4L,
      "TTL dropped exactly the dead row")
    assert(viewMap() === Map("x" -> 2L, "y" -> 1L),
      "TTL reap of the stream table leaves sliding-view state untouched")

    // New records + second drain: checkpoint resume means exactly the new
    // record is ingested (5 rows post-reap, not re-reading the first 5).
    put(Seq(("f", "x,u3")), System.currentTimeMillis())
    eng.sql("SELECT pipeline_kinesis.consume_backfill('ep', 's', 'e2e_stream', 'csv', ',')")
    assert(eng.activeQueries.isEmpty)
    assert(eng.streamTable("e2e_stream").count() === 5L,
      "second drain resumed after the checkpointed seqnum — no re-ingest")
    assert(viewMap() === Map("x" -> 3L, "y" -> 1L),
      "view updated incrementally by the resumed drain")
  }

  test("CREATE STREAM accepts Postgres column types") {
    val meta = tmpDir("sqlfe2-meta")
    val eng = new KinesisEngine(spark, meta)
    eng.sql("CREATE STREAM typed_stream (a text, b bigint, c double precision, " +
      "d bytea, e timestamptz, f integer)")
    val sch = eng.listStreams("typed_stream")
    import org.apache.spark.sql.types._
    assert(sch.fields.map(_.dataType).toSeq === Seq(StringType, LongType,
      DoubleType, BinaryType, TimestampType, IntegerType))
    eng.sql("DROP STREAM typed_stream")
    // type mapping applies in TYPE position only: a column legally NAMED
    // after a Postgres type keeps its name
    eng.sql("CREATE STREAM named_stream (text text, serial bigint)")
    val sch2 = eng.listStreams("named_stream")
    assert(sch2.fieldNames.toSeq === Seq("text", "serial"))
    assert(sch2.fields.map(_.dataType).toSeq === Seq(StringType, LongType))
    eng.sql("DROP STREAM named_stream")
    // parameterized types: the comma inside numeric(10,2) is not a column
    // separator, and char/varchar map to (unenforced) string
    eng.sql("CREATE STREAM param_stream (price numeric(10,2), name varchar(255), " +
      "code char(3), note character varying(80))")
    val sch3 = eng.listStreams("param_stream")
    assert(sch3.fields.map(_.dataType).toSeq ===
      Seq(DecimalType(10, 2), StringType, StringType, StringType))
    eng.sql("DROP STREAM param_stream")
  }

  test("catalog-name rewrites skip string literals; temp views are not clobbered") {
    val root = tmpDir("sqlfe3-root"); val meta = tmpDir("sqlfe3-meta")
    ShardedLog.append(s"$root/s", 0, Seq(("k1", "x")))
    val eng = new KinesisEngine(spark, meta)
    eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep', 'r', NULL, '$root')")
    eng.sql("CREATE STREAM lit_stream (payload text)")
    eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's', 'lit_stream')")
    eng.processAllAvailable()
    eng.sql("SELECT pipeline_kinesis.consume_end('ep', 's', 'lit_stream')")
    // a literal mentioning the catalog table must pass through verbatim —
    // the rewrite applies to code, not data
    assert(eng.sql("SELECT 'pipeline_kinesis.seqnums is a table' AS s")
      .head().getString(0) === "pipeline_kinesis.seqnums is a table")
    // a literal that happens to contain a stream name must not merge
    // tokens or be rewritten either
    assert(eng.sql("SELECT payload, 'lit_stream' AS tag FROM lit_stream")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("x", "lit_stream")))
    // a user temp view sharing a catalog object's name: the statement
    // sees the CATALOG object (engine namespace wins inside eng.sql), but
    // the user's registration survives the call
    import spark.implicits._
    Seq("user-owned").toDF("payload").createOrReplaceTempView("lit_stream")
    assert(eng.sql("SELECT payload FROM lit_stream").head().getString(0) === "x",
      "inside eng.sql the stream table shadows the user temp view")
    assert(spark.table("lit_stream").head().getString(0) === "user-owned",
      "after eng.sql the user's temp view is restored, not clobbered")
    spark.catalog.dropTempView("lit_stream")
    // engine-registered helper views are rolled back too — no namespace
    // residue after the statement
    eng.sql("SELECT count(*) AS n FROM pipeline_kinesis.seqnums")
    assert(!spark.catalog.tableExists("graft_seqnums"),
      "statement-scoped temp views are dropped after the query")
  }

  test("literal lexer: backslash escapes, double-quoted strings, comments") {
    val meta = tmpDir("sqlfe4-meta")
    val eng = new KinesisEngine(spark, meta)
    // Spark's default lexer: \' continues the literal — the rewrite must
    // not fire on catalog names inside it
    assert(eng.sql("SELECT 'it\\'s pipeline_kinesis.seqnums' AS s")
      .head().getString(0) === "it's pipeline_kinesis.seqnums")
    // double-quoted strings are literals by default (doubleQuotedIdentifiers
    // off) — same protection
    assert(eng.sql("SELECT \"pipeline_kinesis.seqnums\" AS s")
      .head().getString(0) === "pipeline_kinesis.seqnums")
    // catalog names inside comments neither rewrite nor register helpers
    assert(eng.sql(
      "SELECT 1 AS n -- pipeline_kinesis.seqnums\n/* pipeline_kinesis.consumers */")
      .head().getInt(0) === 1)
    assert(!spark.catalog.tableExists("graft_seqnums") &&
           !spark.catalog.tableExists("graft_consumers"),
      "comment mentions must not register statement-scoped views")
    // code outside the literal still rewrites
    assert(eng.sql("SELECT count(*) >= 0 AS ok FROM pipeline_kinesis.seqnums " +
      "WHERE shard_id != 'pipeline_kinesis.seqnums'").head().getBoolean(0))
  }

  test("consume_begin does not clobber a user temp view named like the relation") {
    val root = tmpDir("sqlfe5-root"); val meta = tmpDir("sqlfe5-meta")
    ShardedLog.append(s"$root/s", 0, Seq(("k1", "x"), ("k2", "y")))
    val eng = new KinesisEngine(spark, meta)
    import spark.implicits._
    // the user owns a temp view whose name collides with the stream
    // relation BEFORE the consumer starts
    Seq("user-owned").toDF("payload").createOrReplaceTempView("clb_stream")
    try {
      eng.sql(s"SELECT pipeline_kinesis.add_endpoint('ep', 'r', NULL, '$root')")
      eng.sql("CREATE STREAM clb_stream (payload text)")
      eng.sql("CREATE CONTINUOUS VIEW clb_view AS " +
        "SELECT payload, count(*) AS n FROM clb_stream GROUP BY payload")
      eng.sql("SELECT pipeline_kinesis.consume_begin('ep', 's', 'clb_stream')")
      eng.processAllAvailable()
      // the CV computed from the STREAM, not the user's view
      assert(eng.sql("SELECT * FROM clb_view ORDER BY payload").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq ===
          Seq("x" -> 1L, "y" -> 1L))
      // and the user's temp view survived every maintenance batch
      assert(spark.table("clb_stream").head().getString(0) === "user-owned",
        "view startup/maintenance must shadow-restore, not clobber")
      eng.sql("SELECT pipeline_kinesis.consume_end()")
    } finally spark.catalog.dropTempView("clb_stream")
  }
}
