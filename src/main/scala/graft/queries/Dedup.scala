package graft.queries

import graft.Tables
import graft.queries.TextAnalysis.hex7
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** NS deduplication operators over `documents` / `embeddings`.
  *
  * Scale design: every pipeline here follows the inverted-index / LSH-bucket
  * pattern — candidates are generated by an equi-join on a compact key
  * (band hash, shingle, sign bucket), never by a cross join, so the shuffle
  * carries O(docs × bands) rows and skewed buckets are split by AQE. At
  * 100 TB the same plans hold: the only quadratic work is within-bucket.
  *
  * Cross-engine determinism: all hashes derive from `hex7(md5(x))` < 2^28
  * with explicit integer arithmetic mod 1e9+7 (exact on both engines);
  * see TextAnalysis.hex7.
  *
  * Reference capability analog: exact streaming dedup is what PipelineDB's
  * distinct-style continuous views provide; the approximate family
  * (MinHash/SimHash) is the north-star extension for training-data dedup.
  */
object Dedup {

  type Qf = (SparkSession, String) => DataFrame

  private val P = 1000000007L
  // (a, b) parameters of the universal-hash permutations h_i = (a·h + b) mod P.
  private val AB = Seq((3L, 17L), (7L, 101L), (11L, 409L), (17L, 733L),
                       (101L, 919L), (409L, 13L), (733L, 57L), (919L, 5L))

  private val toks = split(col("text"), " ")

  /** doc_id + 3-token shingle-hash array (longs), via the fused native
    * `graft_shingles` expression (expressions/GraftExpressions.scala):
    * one codegen'd loop per row doing split → per-token hex7(md5) →
    * rolling 65599-combine mod 1e9+7. Value-identical to the earlier
    * two-`transform` formulation (which paid per-element lambda
    * interpretation and boxed element_at reads) and to the DuckDB
    * `range(1, len-1)` oracle — <3 tokens yields an empty array exactly
    * like DuckDB's empty range. Shingle identity is an integer rolling
    * combine of per-token hex7(md5) hashes, not a concatenated string:
    * downstream inverted-index joins shuffle 8-byte keys; all arithmetic
    * stays < 2^47 (h < 2^28, mod 1e9+7 between steps) — exact on both
    * engines. */
  private def shingled(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // Shingling is COMPUTE-dense (one md5 per token), so the stage must
    // be sized by cores, not scan bytes: a small corpus arriving as one
    // parquet file = one scan task serializes the whole hash pass
    // (measured 17% of q_dedup_ngram at sf0.1). A bytes-per-task
    // heuristic (1 task / 64 KB of parquet) undershot badly on the sf0.1
    // corpus — most of the 32 cores sat idle through the md5/shingle
    // projection (q_dedup_cluster 1.33 s → 3.95 s, q_dedup_minhash
    // 0.62 s → 1.17 s across otherwise-identical rounds). Width is the
    // executor core count, and the exchange is skipped entirely when the
    // scan is already at least that wide — so at 100 TB (scan partitions
    // ≫ cores) this is a no-op instead of a full-corpus shuffle
    // collapsing a wide scan down to 32 partitions.
    val width = s.sparkContext.defaultParallelism.max(1)
    val wide = if (docs.rdd.getNumPartitions >= width) docs
               else docs.repartition(width)
    wide.select(col("doc_id"),
      call_function("graft_shingles", col("text")).as("shs"))
  }

  /** Per-document 8-minhash signature columns mh0…mh7 straight off the
    * shingle-hash array via fused `graft_minhash` (=
    * `array_min(transform(shs, h => (a·h+b) % P))` without the
    * interpreted lambda). Shingle-less docs (<3 tokens) surface as null
    * mh columns (empty-array min = NULL) and are filtered AFTER the
    * signature projection — never here: a `size(shs) > 0` filter before
    * the projection gets predicate-pushed below it, substituting the
    * whole shingle expression into the filter condition and re-evaluating
    * it per row (measured 15× on q_dedup_minhash at sf0.1). */
  private def sigDf(s: SparkSession, d: String): DataFrame =
    shingled(s, d)
      .select(Seq(col("doc_id")) ++ AB.zipWithIndex.map { case ((a, b), i) =>
        call_function("graft_minhash", col("shs"), lit(a), lit(b)).as(s"mh$i")
      }: _*)

  /** MinHash + banded LSH: signature → 4 bands of 2 rows → candidate
    * pairs from band-key equi-join → estimated Jaccard = matching-minhash
    * fraction. TWO shuffles total: band-key self-join, then the pair
    * dedup groupBy. The 8 mh columns ride through the band explode, so
    * the score is computed straight off the joined band rows — no
    * signature re-joins. Cost: band rows are 64 bytes wider; at any
    * scale that is O(docs × 4 bands × 8 longs) of shuffle I/O traded
    * against two full doc_id-keyed join shuffles, a clear win.
    * UNORDERED — the declared query adds the output sort;
    * `q_dedup_cluster` consumes the pair graph as-is (its downstream
    * aggregation would discard the sort, so paying for it there would be
    * pure waste). */
  /** Band-explode a signature frame (doc_id, mh0…mh7) into
    * (doc_id, band, bk, mh0…mh7) rows.
    *
    * Shingle-less docs (<3 tokens, null minhash) must not band: they'd
    * all share one null-derived bucket key — an all-pairs blowup of
    * short documents. The filter sits ON TOP of the signature
    * projection (a cheap isnotnull); see sigDf for why it must not
    * precede it.
    * Band key packs the band's two minhashes into ONE long (each < P, so
    * mh_even·P + mh_odd is injective): the join shuffles fixed
    * 8-byte keys instead of variable-width concat strings — less shuffle
    * I/O and cheaper hashing at any scale, same candidate-pair set. */
  private def bandify(sig: DataFrame): DataFrame = {
    val mhCols = (0 until 8).map(i => col(s"mh$i"))
    sig.filter(col("mh0").isNotNull)
      .select(Seq(col("doc_id"), explode(array(
        (0 until 4).map(bd =>
          struct(lit(bd).as("band"),
                 (col(s"mh${2 * bd}") * lit(P) + col(s"mh${2 * bd + 1}")).as("bk"))): _*))
        .as("b")) ++ mhCols: _*)
      .select(Seq(col("doc_id"), col("b.band").as("band"),
                  col("b.bk").as("bk")) ++ mhCols: _*)
  }

  /** documents() resized to the core count when the scan arrives narrower
    * (see [[shingled]] — the md5 pass is compute-dense; no-op on a wide
    * 100 TB scan). */
  private def wideDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val width = s.sparkContext.defaultParallelism.max(1)
    if (docs.rdd.getNumPartitions >= width) docs else docs.repartition(width)
  }

  /** Public LSH banding for ANY frame with an id + text column — a pure
    * per-row projection (shingle → 8 minhashes → 4 band keys), so it works
    * on streaming DataFrames too: the streaming near-dup pattern is
    * `bandKeys(stream) ⋈ bandKeys(corpus)` on (band, bk) — a stream-static
    * equi-join, no state, no cross join (StreamingStateSpec demonstrates
    * it). Output: (doc_id, band, bk, mh0…mh7). */
  def bandKeys(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"),
      call_function("graft_shingles", col(textCol)).as("shs"))
    bandify(sh.select(Seq(col("doc_id")) ++ AB.zipWithIndex.map {
      case ((a, b), i) =>
        call_function("graft_minhash", col("shs"), lit(a), lit(b)).as(s"mh$i")
    }: _*))
  }

  /** Public overlapping-window span projection for ANY frame with an id +
    * text column — (doc_id, p, wh) rows, one per k-token window (stride
    * 1), via the native graft_spanhashes expression. Like [[bandKeys]]
    * it is a pure per-row projection, so it works on streaming
    * DataFrames: stream-static `spanKeys(stream) ⋈ spanKeys(corpus)` on
    * `wh` is the streaming span-contamination gate (StreamingStateSpec).
    * Docs with < k tokens vanish (empty array → no explode rows). */
  def spanKeys(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      posexplode(call_function("graft_spanhashes", col(textCol), lit(k)))
        .as(Seq("p", "wh")))

  /** `bands0` defaults to the in-query signature + band projection; the
    * `_indexed` serve twin passes [[prebuiltBands]] (r18). */
  private def minhashPairs(s: SparkSession, d: String,
                           bands0: DataFrame = null): DataFrame = {
    // NOT cached: the self-join's broadcast build side duplicates the
    // shingle+minhash projection, but caching the band frame to dedup
    // it measured 1.25× SLOWER (alternating min-of-6 runs) — the
    // materialization job + memory round-trip costs more than the
    // second pipelined projection pass. The bucketed twin is
    // the shape that removes the recompute at scale.
    val bands = Option(bands0).getOrElse(bandify(sigDf(s, d)))
    val x = bands.as("x"); val y = bands.as("y")
    x.join(y,
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
              round((0 until 8).map(i =>
                when(col(s"x.mh$i") === col(s"y.mh$i"), 1).otherwise(0))
                .reduce(_ + _).cast("double") / 8.0, 4).as("est_jaccard"))
      // a pair colliding in multiple bands scores identically each time,
      // so max == the single value; the groupBy is the pair dedup that
      // `.distinct()` on bare pairs used to do
      .groupBy("doc_a", "doc_b").agg(max("est_jaccard").as("est_jaccard"))
  }

  private def minhashQ(s: SparkSession, d: String): DataFrame =
    minhashPairs(s, d).orderBy("doc_a", "doc_b")

  /** Connected components over the minhash near-dup pair graph
    * (est_jaccard ≥ 0.75) by iterative min-label propagation — the body
    * of q_dedup_cluster, shared with q_split_leakfree. Returns (d, lbl)
    * for every doc touching at least one near-dup edge; lbl = the
    * component's min doc_id at the PROVEN fixpoint (loud failure
    * otherwise). A~B and B~C collapse to one label even when A~C was
    * never scored. One equi-join + agg per round, lineage truncated by
    * a lazy localCheckpoint whose materializing job IS the
    * convergence-sum action (one job per round); rounds = graph
    * diameter, 2-4 for near-dup clusters at any corpus size. */
  private def clusterLabels(s: SparkSession, d: String): DataFrame = {
    val e1 = minhashPairs(s, d).filter(col("est_jaccard") >= 0.75)
      .select(col("doc_a"), col("doc_b"))
    val e0 = e1.union(e1.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
    // edges truncated once — every round joins against them
    val edges = e0.localCheckpoint(false)
    var labels = edges.select(col("src").as("d")).distinct()
      .withColumn("lbl", col("d")).localCheckpoint(false)
    // labels only ever decrease, so an unchanged label SUM is the
    // fixpoint — one cheap agg per round instead of a compare-join
    // (decimal: a Σ of 64-bit ids over billions of nodes overflows long)
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
    // the INITIAL label sum is read off round 1's action: the node set
    // is invariant under propagation and lbl₀ = d, so Σ lbl of the
    // initial frame equals Σ d of ANY round's output — one extra agg
    // column in round 1 instead of a whole driver action + job, the
    // dominant per-round cost at small SF. Empty graph: round 1
    // aggregates to (null, null) and converges immediately.
    var prevSum: java.math.BigDecimal = null
    var iter = 0
    var converged = false
    while (!converged && iter < 50) {
      val next = edges.join(labels, col("dst") === col("d"))
        .select(col("src").as("d"), col("lbl"))
        .union(labels)
        .groupBy("d").agg(min("lbl").as("lbl"))
        .localCheckpoint(false)
      val s2 =
        if (iter == 0) {
          val row = next.agg(sum(col("lbl").cast("decimal(38,0)")),
                             sum(col("d").cast("decimal(38,0)"))).head()
          prevSum = row.getDecimal(1) // Σ d == the initial Σ lbl
          row.getDecimal(0)
        } else lblSum(next)
      converged = s2 == null || s2.compareTo(prevSum) == 0
      prevSum = s2
      labels = next
      iter += 1
    }
    // returning a non-fixpoint would silently split true components —
    // fail loudly instead (50 rounds = a component diameter no real
    // near-dup cluster reaches)
    require(converged,
      "clusterLabels: label propagation did not converge within 50 " +
        "rounds — component diameter exceeds the cap")
    labels
  }

  // q_decontam_clean's plant, defined ONCE for the Spark query and its
  // oracle (review r17: the phrase/predicates/window width were built
  // independently ~570 lines apart — a one-sided change would compile
  // and only fail at oracle-diff time). Window width, the planted
  // phrase, the pinned bench-sample predicate, and the plant predicate:
  // q_dedup_unicode's variant-copy id offsets (shared with its oracle)
  private val uniOff1 = 2000000000000L
  private val uniOff2 = 3000000000000L

  private val decontamK = 8
  private val decontamPhrase =
    (1 to decontamK).map(i => s"bm$i").mkString("", " ", " ")
  private val benchPredSql = "(doc_id % 97 = 0 AND doc_id < 5000)"
  private val plantPredSql = s"($benchPredSql OR doc_id % 89 = 3)"

  /** The span-removal cut, shared by q_dedup_spans_clean and
    * q_decontam_clean: `remPs` carries one row per AFFECTED doc with its
    * removed k-token window start positions; every `docs` row comes back
    * as (doc_id, n_tokens, n_removed, text_clean). Coverage = union of
    * [p, p+k−1] extents; kept = positions escaping it, in original
    * order — array_except keeps the left argument's order and hashes the
    * right, so the cut is O(tokens + coverage) per row (a per-token
    * array_contains scan would be quadratic on a fully-removed large
    * doc). `cov` staged as its own column: inlining it would re-flatten
    * the extents per evaluation site (no CSE inside lambda bodies). */
  private def spanRemoval(docs: DataFrame, remPs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .join(remPs, Seq("doc_id"), "left")
      .withColumn("cov",
        expr(s"flatten(transform(ps, p -> sequence(p, p + ${k - 1})))"))
      .withColumn("kept", when(col("ps").isNull, col("tk"))
        .otherwise(expr(
          "transform(array_except(sequence(0, size(tk) - 1), cov)," +
          " i -> element_at(tk, i + 1))")))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("text_clean"))

  /** The q_dedup_spans stats body over a given (doc_id, p, wh) window
    * frame — shared by the in-query and `_indexed` declared twins (r18).
    * One wh exchange for the document-frequency aggregate, one join back
    * on the hash, then ONE doc_id aggregation carrying counts AND the
    * duplicated-position list; the longest run falls out of a fold over
    * the sorted positions. (A gaps-and-islands window formulation
    * recomputes the whole window-hash join subtree per aggregation branch
    * and pays a second exchange + join-back — plan-audited away here. The
    * collected list is bounded by document length, the same bound the
    * window partition would have had.) */
  private def spanStats(wins: DataFrame, freq0: DataFrame = null): DataFrame = {
    val freq = Option(freq0).map(_.select(col("wh"), col("nd")))
      .getOrElse(wins.groupBy("wh")
        .agg(countDistinct(col("doc_id")).as("nd")))
    val flagged = wins.join(freq, "wh")
      .select(col("doc_id"), col("p"), (col("nd") >= 2).as("dup"))
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
           count(when(col("dup"), 1)).as("n_dup"),
           sort_array(collect_list(when(col("dup"), col("p")))).as("ps"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        // Q.r4: small-int ratio, exact half-boundary prone (Tables.Q)
        graft.Q.r4(col("n_dup").cast("double") / col("n_windows"))
          .as("dup_frac"),
        // longest consecutive run over the ascending positions: carry
        // (current run, best run, previous pos) through the fold
        expr(
          "aggregate(ps, named_struct('run', 0L, 'best', 0L, 'prev', -2)," +
          " (a, x) -> named_struct(" +
          "   'run', IF(x = a.prev + 1, a.run + 1L, 1L)," +
          "   'best', greatest(a.best, IF(x = a.prev + 1, a.run + 1L, 1L))," +
          "   'prev', x)," +
          " a -> a.best)").as("max_run"))
      .orderBy("doc_id")
  }

  /** The q_dedup_cluster output shape over a (d, lbl) label frame —
    * shared by the in-query propagation and the prebuilt serve twin. */
  private def clusterQ(labels: DataFrame): DataFrame =
    labels
      .select(col("d").as("doc_id"), col("lbl").as("cluster_id"),
        (col("d") === col("lbl")).cast("int").as("is_keeper"))
      .orderBy("doc_id")

  /** The q_dedup_spans_clean body over optional prebuilt (wins, freq)
    * index tables — in-query recompute when null (r18). `freq0` must
    * carry (wh, nd, keeper); remPs rows are unique by construction
    * (wins is one row per (doc_id, p), freq one row per wh). */
  private def spansCleanQ(s: SparkSession, d: String,
                          wins0: DataFrame, freq0: DataFrame): DataFrame = {
    val K = 8
    val docs = wideDocs(s, d)
    val wins = Option(wins0).getOrElse(spanKeys(docs, "doc_id", "text", K))
    val freq = Option(freq0).getOrElse(
      wins.groupBy("wh")
        .agg(countDistinct(col("doc_id")).as("nd"), min("doc_id").as("keeper")))
    val remPs = wins.join(freq.select("wh", "nd", "keeper"), "wh")
      .filter(col("nd") >= 2 && col("doc_id") =!= col("keeper"))
      .groupBy("doc_id").agg(collect_list(col("p")).as("ps"))
    spanRemoval(docs, remPs, K).orderBy("doc_id")
  }

  /** The leakage-free split assignment (doc_id, rep, split) — the body of
    * q_split_leakfree, factored so q_split_contam_audit composes the SAME
    * assignment it audits (one definition of the bucket rule on each
    * engine side). See the q_split_leakfree comment for the rationale.
    * `labels` defaults to the in-query propagation; the `*_indexed`
    * twins pass the prebuilt label table instead. */
  private def splitAssign(s: SparkSession, d: String,
                          labels: DataFrame = null): DataFrame = {
    val lbls = Option(labels).getOrElse(clusterLabels(s, d))
    val rep = Tables.documents(s, d).select(col("doc_id"))
      .join(lbls, col("doc_id") === col("d"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("rep"))
    val bucket = call_function("graft_md5h",
      concat(lit("split#"), col("rep").cast("string")), lit(7)) % 100
    rep.withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("rep"), col("split"))
  }

  /** Prebuilt near-dup LABEL table (the ANN build/query split applied to
    * the dedup/split family, r17): the min-label propagation is the one
    * iterative, multi-job cost in q_dedup_cluster / q_split_leakfree /
    * q_split_contam_audit, and like the coarse-quantizer training it is
    * a property of the CORPUS, not the query — production materializes
    * it once per corpus snapshot and every split/audit/dedup decision
    * reads it. Build = clusterLabels written as one small parquet table
    * (a row per doc touching a near-dup edge); memo/fingerprint/cleanup
    * via graft.Prebuilt (rebuilds when documents.parquet changes
    * in-place). The `*_indexed` serve queries read it; their oracles
    * re-run the full recursive reachability CTE, so label correctness
    * stays oracle-covered exactly like the ANN indexed family. */
  private[graft] def splitLabelDir(s: SparkSession, d: String): String =
    graft.Prebuilt.dirFor(s, d, "documents", "neardup_labels") { dir =>
      clusterLabels(s, d).write.mode("overwrite").parquet(s"$dir/labels")
    }

  private def prebuiltLabels(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${splitLabelDir(s, d)}/labels")

  /** Prebuilt span/window-hash INDEX (r18, VERDICT r17 next-round #1):
    * [[spanKeys]] recomputes corpus-wide overlapping 8-token window
    * hashes — an md5 per token plus the rolling fold — inside EVERY
    * spans-family query, and at 100 TB that projection is THE
    * corpus-proportional cost of the contamination audit (exp 0.40) and
    * the span-dedup stats. Like the near-dup labels and the ANN posting
    * lists, the window rows are a property of the CORPUS, not the query,
    * so production materializes them once per corpus snapshot and every
    * spans query becomes joins against the index. The index is THREE
    * tables, all corpus-only (one spanKeys pass feeds all of them, the
    * way an inverted index stores postings AND document frequencies):
    *  - spans: (doc_id, p, wh) — the positional rows (removal cuts)
    *  - freq:  (wh, nd, keeper) — per-hash distinct-doc count + min doc
    *  - docwh: (doc_id, wh) DISTINCT — the audit's probe rows
    * Serving from spans alone measured ~par with the in-query recompute
    * at sf0.1 (the native hash projection is cheap; the frequency
    * aggregate and the per-doc distinct — the exchanges — were still
    * paid per query), so the derived aggregates ARE the index, exactly
    * as splitLabelDir stores the propagation FIXPOINT rather than the
    * edge list. Build via graft.Prebuilt (fingerprint memo, JVM-exit
    * cleanup — shared machinery); K = 8 is the family-wide width, so
    * one index serves the dedup stats and the audit alike. At 100 TB
    * the tables would be written BUCKETED BY wh / doc_id so the serve
    * joins skip their exchanges too. Serve-twin oracles re-run the full
    * in-query SQL (the ANN indexed family's precedent), so every index
    * table stays correctness-covered. */
  private[graft] def spanIndexDir(s: SparkSession, d: String): String =
    graft.Prebuilt.dirFor(s, d, "documents", "span_index") { dir =>
      spanKeys(wideDocs(s, d), "doc_id", "text", 8)
        .write.mode("overwrite").parquet(s"$dir/spans")
      // derive from the written table: re-reading parquet is cheaper
      // than recomputing the hash projection per derived table, and the
      // build runs once per snapshot anyway
      val w = s.read.parquet(s"$dir/spans")
      w.groupBy("wh")
        .agg(countDistinct(col("doc_id")).as("nd"),
             min(col("doc_id")).as("keeper"))
        .write.mode("overwrite").parquet(s"$dir/freq")
      w.select(col("doc_id"), col("wh")).distinct()
        .write.mode("overwrite").parquet(s"$dir/docwh")
    }

  /** Prebuilt MinHash band/signature index (r18): the per-doc 8-minhash
    * signature — a shingle pass plus 8 fused min-hash folds, the
    * compute-dense half of q_dedup_minhash — is a corpus property like
    * the span index, so the banded signature table (doc_id, band, bk,
    * mh0…mh7) materializes once per snapshot and the serve twin starts
    * at the band-key self-join. This is the third dedup family on the
    * build/query split (labels r17, spans r18, signatures r18); a
    * production pipeline stores exactly this table to admit NEW docs
    * against the corpus by band join (the streaming near-dup gate in
    * StreamingStateSpec is the same table as a stream-static join). At
    * 100 TB it would be bucketed by bk to co-locate the self-join. */
  private[graft] def minhashIndexDir(s: SparkSession, d: String): String =
    graft.Prebuilt.dirFor(s, d, "documents", "minhash_index") { dir =>
      bandify(sigDf(s, d)).write.mode("overwrite").parquet(s"$dir/bands")
    }

  private def prebuiltBands(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${minhashIndexDir(s, d)}/bands")

  private def prebuiltSpans(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${spanIndexDir(s, d)}/spans")

  private def prebuiltSpanFreq(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${spanIndexDir(s, d)}/freq")

  private def prebuiltDocWh(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${spanIndexDir(s, d)}/docwh")

  /** BUCKETED prebuilt indexes (r19, VERDICT r18 next-round #1): the
    * plain-parquet serve twins above still pay an Exchange on the index
    * side of every serve join — the one structural claim of the 100-TB
    * story ("the tables would be written BUCKETED BY wh / doc_id so the
    * serve joins skip their exchanges too", span-index note) that no plan
    * demonstrated. These twins write the SAME index content through
    * [[graft.Prebuilt.tableFor]] as bucketed+sorted catalog tables, so
    * the serve join's required distribution is satisfied straight off the
    * scan: the band-key self-join (minhash) and the spans⋈freq join
    * (spans) plan with ZERO Exchange on the bucketed keys —
    * PlanAuditSpec asserts it with broadcast disabled. The repartition
    * before each write lands exactly one file per bucket (repartition's
    * HashPartitioning is the same pmod(hash, n) the bucket spec uses), so
    * the scan also reports the sortBy order and the sort-merge join reads
    * pre-sorted splits. 32 buckets is the test-scale constant: bucket
    * count is a property of the corpus snapshot, chosen once at build
    * time (thousands at 100 TB) — and it must be >= the executor core
    * count at serve time, because a bucketed scan reads one task per
    * bucket (the 8-bucket draft measured a 0.52 10x exponent on the
    * spans join purely from the 8-way parallelism cap on 32 cores;
    * 32 buckets restored it below the plain-parquet twin's). */
  /** Test-scale bucket count for every bucketed prebuilt table — ONE
    * constant so repartition/bucketBy stay in lockstep and spans/freq
    * always share it (a mismatch silently reintroduces the Exchange the
    * layout exists to delete, caught only later by PlanAuditSpec). */
  private val serveBuckets = 32

  private def bucketedBands(s: SparkSession, d: String): DataFrame =
    s.table(graft.Prebuilt.tableFor(s, d, "documents", "minhash_bkt") {
      (dir, name) =>
        bandify(sigDf(s, d))
          .repartition(serveBuckets, col("band"), col("bk"))
          .write.mode("overwrite")
          .bucketBy(serveBuckets, "band", "bk").sortBy("band", "bk")
          .option("path", s"$dir/bands").format("parquet").saveAsTable(name)
    })

  /** (spans, freq) as bucketed-by-`wh` catalog tables — one build
    * registers both (the [[spanIndexDir]] content, bucketed). */
  private def bucketedSpanTbls(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val spansName = graft.Prebuilt.tableFor(s, d, "documents", "span_bkt",
      extraSuffixes = Seq("_freq")) { (dir, name) =>
        spanKeys(wideDocs(s, d), "doc_id", "text", 8)
          .repartition(serveBuckets, col("wh"))
          .write.mode("overwrite").bucketBy(serveBuckets, "wh").sortBy("wh")
          .option("path", s"$dir/spans").format("parquet").saveAsTable(name)
        s.table(name).groupBy("wh")
          .agg(countDistinct(col("doc_id")).as("nd"),
               min(col("doc_id")).as("keeper"))
          .repartition(serveBuckets, col("wh"))
          .write.mode("overwrite").bucketBy(serveBuckets, "wh").sortBy("wh")
          .option("path", s"$dir/freq").format("parquet")
          .saveAsTable(name + "_freq")
    }
    (s.table(spansName), s.table(spansName + "_freq"))
  }

  /** Bucketed prebuilt LABEL table (r20, VERDICT r19 next-round #1 —
    * the last plain-parquet prebuilt family): the near-dup label table
    * is corpus-keyed (one row per doc touching an edge), so every serve
    * join against it — the split assignment's `doc_id = d` left join,
    * and through it both audits — re-shuffled the label side per query.
    * Stored bucketBy(d), the join's required distribution is satisfied
    * off the scan: with broadcast off the SMJ plans ZERO Exchange above
    * the label scan (PlanAuditSpec asserts it by tree walk — the probe
    * side is also doc_id-keyed, so the r19 key-name assertion can't
    * distinguish the sides here). Same fixpoint content as
    * [[prebuiltLabels]]; only the layout changed, so the oracle is the
    * in-query twins' reachability CTE, unchanged. */
  private def bucketedLabels(s: SparkSession, d: String): DataFrame =
    s.table(graft.Prebuilt.tableFor(s, d, "documents", "labels_bkt") {
      (dir, name) =>
        clusterLabels(s, d)
          .repartition(serveBuckets, col("d"))
          .write.mode("overwrite").bucketBy(serveBuckets, "d").sortBy("d")
          .option("path", s"$dir/labels").format("parquet").saveAsTable(name)
    })

  /** Bucketed prebuilt docwh table (r20, with [[bucketedLabels]]): the
    * audit's probe rows are the OTHER corpus-proportional index side —
    * one DISTINCT (doc_id, wh) row per document window — and the serve
    * audit joins them to the split assignment on doc_id. bucketBy(doc_id)
    * deletes that exchange the same way. */
  private def bucketedDocWh(s: SparkSession, d: String): DataFrame =
    s.table(graft.Prebuilt.tableFor(s, d, "documents", "docwh_bkt") {
      (dir, name) =>
        spanKeys(wideDocs(s, d), "doc_id", "text", 8)
          .select(col("doc_id"), col("wh")).distinct()
          .repartition(serveBuckets, col("doc_id"))
          .write.mode("overwrite")
          .bucketBy(serveBuckets, "doc_id").sortBy("doc_id")
          .option("path", s"$dir/docwh").format("parquet").saveAsTable(name)
    })

  /** The cross-split span-contamination audit body over a given split
    * assignment — shared by q_split_contam_audit (in-query propagation)
    * and its `_indexed` twins (prebuilt labels; prebuilt labels + span
    * index). See the declared query's comment for the full design
    * rationale. `docWh0` must be per-doc DISTINCT (doc_id, wh) rows;
    * it defaults to the in-query window-hash projection + distinct, and
    * the span-indexed twin passes [[prebuiltDocWh]] — already distinct
    * by construction, so the serve plan skips that exchange too. */
  private def contamAudit(s: SparkSession, d: String, sp0: DataFrame,
                          docWh0: DataFrame = null): DataFrame = {
    val sp = sp0.select(col("doc_id"), col("split"))
    val spans = Option(docWh0)
      .getOrElse(spanKeys(wideDocs(s, d), "doc_id", "text", 8)
        .select(col("doc_id"), col("wh")).distinct())
      .join(sp, "doc_id")
    // Single spans pass AND skew safety. The corpus-wide
    // graft_spanhashes Generate + split join would otherwise run twice —
    // once under the trainWh distinct and again on the test side, with
    // no exchange reuse (the split filters push below the exchanges, so
    // the subtrees differ) — so the spans frame is lazily
    // localCheckpointed. The flag side is the guide-§2.3 shape:
    // filter(train) pushes below a map-side partial-aggregated
    // distinct, so the wh exchange carries one row per distinct
    // (map-partition, train wh) instead of every span row, and the join
    // back to the test rows is a plain equi-join — the construct AQE
    // skew handling CAN split (guide §2.5: joins yes, windows no), so
    // one boilerplate span shared by millions of docs never lands in
    // one task. The checkpoint applies ONLY to the in-query twins
    // (docWh0 null). The serve twins' spans frame is a prebuilt/bucketed
    // table join — re-reading a pruned columnar table twice is cheaper
    // than spooling the joined frame to executor-local disk, and the
    // checkpoint would hide the bucketed label/docwh scans from the
    // physical plan (PlanAuditSpec's zero-exchange-above-bucketed-scan
    // tripwire walks the tree; an RDD scan node is opaque).
    val sp1 = if (docWh0 == null) spans.localCheckpoint(false) else spans
    val trainWh = sp1.filter(col("split") === "train")
      .select(col("wh")).distinct()
    sp1.filter(col("split") === "test")
      .join(trainWh.withColumn("hit", lit(1)), Seq("wh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_wh"), count(col("hit")).as("n_shared"))
      .filter(col("n_shared") > 0)
      .select(col("doc_id"), col("n_wh"), col("n_shared"),
        graft.Q.r4(col("n_shared").cast("double") / col("n_wh"))
          .as("shared_frac"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Qf] = Map(
    // Exact content dedup: hash-groupBy on the document fingerprint. The
    // shuffle key is the 128-bit digest, so identical payloads co-locate
    // regardless of cluster size; survivor = min doc_id (deterministic).
    "q_dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .filter(col("n_copies") > 1)
        .orderBy("fp")),

    // Normalization-aware exact dedup (r18) — the C4/CCNet canonical-form
    // pass: two documents are duplicates when they agree after Unicode
    // NFC normalization, case folding, and whitespace collapse, even
    // when their raw bytes are disjoint (composed é vs e+combining
    // accent, case variants, spacing variants — exactly what crawl
    // re-encodes produce). Canonicalization runs through the native
    // codegen'd graft_unorm (Spark has no normalization built-in; a UDF
    // would break whole-stage codegen), then the q_dedup_exact
    // hash-groupBy on the canonical digest. The synthetic corpus is pure
    // ASCII — where NFC is the identity — so the plant unions in two
    // VARIANT copies of every doc_id % 101 == 5 document: a composed-
    // accent marker + UPPERCASED text vs a decomposed-accent marker +
    // doubled spacing; zero shared bytes, identical canonical form,
    // and the dedup must pair exactly them (the oracle replays the
    // variants with chr(769) and DuckDB's nfc_normalize). Scale: one
    // narrow map + one digest-keyed exchange — q_dedup_exact's shape.
    "q_dedup_unicode" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val sampled = docs.filter(col("doc_id") % 101 === 5)
      val v1 = sampled.select((col("doc_id") + lit(uniOff1)).as("doc_id"),
        concat(lit("Café Résumé "), upper(col("text")))
          .as("text"))
      val v2 = sampled.select((col("doc_id") + lit(uniOff2)).as("doc_id"),
        concat(lit("Café  Résumé "), col("text"),
               lit("  ")).as("text"))
      val all = docs.unionByName(v1).unionByName(v2)
      val canon = lower(regexp_replace(
        trim(call_function("graft_unorm", col("text"), lit("NFC"))),
        " +", " "))
      all.groupBy(md5(canon).as("fp"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .filter(col("n_copies") > 1)
        .orderBy("fp")
    }),

    // MinHash + banded LSH: signature → 4 bands of 2 rows → candidate pairs
    // from band-key equi-join → estimated Jaccard = matching-minhash
    // fraction. One shuffle on band keys + one on doc ids.
    "q_dedup_minhash" -> (minhashQ(_, _)),

    // Serve twin over the prebuilt banded-signature table (r18): the
    // shingle + 8-minhash projection — the compute-dense half — moves
    // into the one-time index build; the serve plan is the band-key
    // self-join + pair dedup over parquet. Oracle = the in-query twin's
    // full SQL, so the signature table stays correctness-covered.
    "q_dedup_minhash_indexed" -> ((s, d) =>
      minhashPairs(s, d, prebuiltBands(s, d)).orderBy("doc_a", "doc_b")),

    // BUCKETED serve twin (r19): the signature table stored bucketed by
    // the band key, so the candidate self-join is EXCHANGE-FREE on both
    // sides — the 100-TB economics the _indexed twin's design note
    // claimed, now in the plan (PlanAuditSpec asserts zero Exchange on
    // band/bk with broadcast disabled; only the pair-dedup groupBy
    // shuffles). Same oracle as the in-query twin — content identical,
    // only the layout changed.
    "q_dedup_minhash_bucketed" -> ((s, d) =>
      minhashPairs(s, d, bucketedBands(s, d)).orderBy("doc_a", "doc_b")),

    // Paragraph-level boilerplate dedup (the CCNet/RefinedWeb corpus
    // pass): a segment recurring in MORE THAN 2 distinct documents is
    // boilerplate — drop it from every document and reassemble each doc
    // from its surviving segments in original order. This corpus has no
    // newline structure, so the segmenter is deterministic non-overlapping
    // 8-token windows; on a real corpus substitute split(text, '\n') and
    // the rest of the plan is unchanged. Scale: one segment-keyed exchange
    // for the document-frequency aggregate, one shuffle join back on the
    // same key (the frequency side is one row per segment, so a
    // million-doc boilerplate segment is one build row, not a skewed
    // bucket), one doc_id-keyed exchange to reassemble. No cross join.
    "q_dedup_lines" -> ((s, d) => {
      // segmentation via the native graft_segments expression — one
      // codegen'd loop per row; the r16 interpreted transform/sequence/
      // slice/array_join lambda tree measured 1,155 ms for the whole
      // query at sf0.1, value-identical (split keeps trailing empties,
      // "" yields one empty segment, same DuckDB range chain mirror)
      val segs = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(call_function("graft_segments", col("text"), lit(8)))
            .as(Seq("pos", "seg")))
      val freq = segs.groupBy("seg")
        .agg(countDistinct(col("doc_id")).as("ndocs"))
      segs.join(freq, "seg")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"),
          count(when(col("ndocs") <= 2, 1)).as("n_kept"),
          // ordered reassembly without a window: collect the kept
          // (pos, seg) structs, sort by the leading pos field, join
          array_join(
            transform(
              array_sort(collect_list(when(col("ndocs") <= 2,
                struct(col("pos"), col("seg"))))),
              x => x.getField("seg")),
            " ").as("text_clean"))
        .orderBy("doc_id")
    }),

    // Span-level exact-substring dedup (the Lee et al. 2021 "Deduplicating
    // Training Data" pass, approximated with Rabin–Karp window hashes):
    // hash every OVERLAPPING 8-token window (stride 1) and flag windows
    // whose hash occurs in ≥2 distinct documents. This catches SHIFTED
    // duplicate passages that q_dedup_lines' fixed non-overlapping
    // segmentation misses (a passage straddling two fixed segments never
    // matches), at 8× the window rows — still linear in corpus tokens.
    // Output per doc: window counts, duplicated fraction, and the longest
    // run of consecutive duplicated windows (a run of r windows ≡ a
    // duplicated passage of r+7 tokens — the span a removal pass would
    // cut). Scale: same shape as q_dedup_lines — one window-hash exchange
    // for the frequency aggregate (the frequency side is ONE row per
    // hash, so a corpus-wide boilerplate span is one build row, not a
    // skewed bucket), one join back on the hash, then doc_id-keyed
    // window + aggregates (bounded by document length). All integer
    // arithmetic: per-token hex7(md5) < 2^28 folded by 65599-combine mod
    // 1e9+7 (acc·65599 < 2^47) — exact on both engines.
    // In-query form: the native fused graft_spanhashes projection
    // (ShingleHashes.computeK) — one codegen'd loop per row replaces the
    // interpreted transform/aggregate/slice lambda tree (measured 1,680 →
    // see PLANS note); < K tokens → empty array → posexplode drops the
    // doc, the same absence contract as the previous size() filter. Like
    // `shingled`, the md5 pass is compute-dense, so the stage is sized by
    // cores when the scan arrives narrower (no-op on a wide 100 TB scan).
    "q_dedup_spans" -> ((s, d) =>
      spanStats(spanKeys(wideDocs(s, d), "doc_id", "text", 8))),

    // Serve twin over the prebuilt span index (r18): the SAME stats
    // output with the per-query window-hash recompute AND the frequency
    // aggregate — the corpus-proportional projection and its exchange —
    // replaced by parquet reads of the once-per-snapshot spans + freq
    // tables. Oracle = the in-query twin's full SQL, so both index
    // tables stay correctness-covered.
    "q_dedup_spans_indexed" -> ((s, d) =>
      spanStats(prebuiltSpans(s, d), prebuiltSpanFreq(s, d))),

    // BUCKETED serve twin (r19): spans AND freq stored bucketed by wh,
    // so the spans⋈freq serve join reads co-partitioned pre-sorted
    // splits — no Exchange, no Sort on the index side (PlanAuditSpec);
    // the only shuffle left is the per-doc aggregation. Oracle shared
    // with the in-query form.
    "q_dedup_spans_bucketed" -> ((s, d) => {
      val (spans, freq) = bucketedSpanTbls(s, d)
      spanStats(spans, freq)
    }),

    // The REMOVAL half of span dedup (the operation Lee et al. 2021
    // actually ship): every duplicated window keeps its first occurrence
    // — keeper = min doc_id over the docs containing the window hash —
    // and is CUT from every other doc; each doc is reassembled from its
    // surviving tokens in order. A window at position p covers tokens
    // p..p+7, so coverage = the union of removed-window extents
    // (overlapping removals merge via the distinct). An exact copy of an
    // earlier doc empties completely; the shifted-passage case cuts
    // exactly the shared passage (spec-pinned).
    // r17 (VERDICT r16 what's-wrong #2): the r16 shape posexploded EVERY
    // doc's tokens and reassembled every doc via a (doc_id, pos)
    // anti-join + collect_list/sort — at 100 TB, where the overwhelming
    // majority of docs have zero duplicated spans, that shuffled the
    // whole corpus's tokens for nothing. The removal side now collapses
    // to ONE tiny per-doc row — collect_list of the doc's removed window
    // positions (bounded by the doc's duplicated windows) — and the cut
    // happens in a narrow projection: a positional `filter(tk, (t, i) →
    // …)` against the expanded coverage array, with clean docs (null
    // join arm) taking their token array untouched. Scale shape: the wh
    // exchange + join-back as in q_dedup_spans, one doc_id exchange
    // carrying ONLY removed positions, one equi-join of the corpus scan
    // against that (broadcastable) removal frame — the token explode,
    // the (doc_id, pos) anti-join shuffle, and the reassembly
    // aggregation are GONE for every doc, not just clean ones. The
    // per-doc cut is hash-based (array_except builds one position set
    // per row), so it stays O(tokens + coverage) even for a fully-
    // duplicated large doc — a per-token array_contains scan would be
    // O(tokens × coverage), a straggler row on an exact copy of a huge
    // doc (review r17) — and zero for clean docs. Identical output —
    // the oracle is unchanged.
    "q_dedup_spans_clean" -> ((s, d) =>
      spansCleanQ(s, d, wins0 = null, freq0 = null)),

    // Removal served from the prebuilt span index (r18): freq already
    // stores (nd, keeper) — the removal rule's whole decision — so the
    // serve plan is two parquet reads, the wh join, the per-affected-doc
    // position aggregate, and the shared spanRemoval cut; the corpus
    // hash recompute AND the frequency exchange are gone. Completes the
    // spans family on the build/query split. Oracle = the in-query SQL.
    "q_dedup_spans_clean_indexed" -> ((s, d) =>
      spansCleanQ(s, d, prebuiltSpans(s, d), prebuiltSpanFreq(s, d))),

    // Benchmark decontamination, REMOVAL form (the operation labs run
    // before training, not just the q_decontam flag): cut from every
    // training doc each 8-token window whose hash occurs in the pinned
    // benchmark set (q_decontam's sample: doc_id % 97 == 0 below 5000 —
    // a fixed external artifact, so the bench side must NOT grow with
    // the corpus), and reassemble. Catches SHIFTED benchmark passages
    // that q_decontam's 5-token-prefix substring probe would need
    // alignment luck for, and unlike dropping whole flagged docs it
    // keeps the uncontaminated remainder. Shape: the benchmark span set
    // is tiny (broadcast); the training side is ONE spanKeys projection
    // + an equi-join on the 8-byte hash; the cut is [[spanRemoval]]'s
    // per-row set difference. Scan-bound at 100 TB, like
    // q_dedup_spans_clean whose machinery it shares.
    "q_decontam_clean" -> ((s, d) => {
      val K = decontamK
      // contamination is PLANTED (the q_pii_scrub pattern): the corpus has
      // no natural verbatim K-token overlap with the pinned bench sample,
      // so without the plant the removal path would pass vacuously. Every
      // bench doc and every doc_id % 89 == 3 training doc get the same
      // K-token preamble — those training docs provably lose exactly that
      // span (boundary windows differ: the continuations differ). The
      // predicates/phrase are the shared constants the oracle also uses.
      val isBench = expr(benchPredSql)
      val docs = wideDocs(s, d).select(col("doc_id"),
        when(expr(plantPredSql),
          concat(lit(decontamPhrase), col("text")))
          .otherwise(col("text")).as("text"))
      val benchWh = spanKeys(docs.filter(isBench), "doc_id", "text", K)
        .select(col("wh")).distinct()
      val train = docs.filter(!isBench)
      val remPs = spanKeys(train, "doc_id", "text", K)
        .join(benchWh, "wh")
        .groupBy("doc_id").agg(collect_list(col("p")).as("ps"))
      spanRemoval(train, remPs, K).orderBy("doc_id")
    }),

    // Transitive near-dup clustering: connected components over the
    // minhash pair graph (est_jaccard ≥ 0.75), survivor = min doc_id per
    // component. A~B and B~C must collapse to ONE keeper even when A~C
    // was never scored — pairwise dedup alone over-keeps. Iterative
    // min-label propagation, the standard distributed-CC shape (one
    // equi-join + agg per hop, lineage truncated per round); rounds =
    // graph diameter, 2-4 for near-dup clusters at any corpus size.
    "q_dedup_cluster" -> ((s, d) =>
      clusterQ(clusterLabels(s, d))),

    // Serve twin over the prebuilt label table (r18): q_dedup_cluster's
    // output is a pure projection of the stored fixpoint, so the serve
    // plan is one parquet read + the keeper flag — every iterative job
    // gone. With this the ENTIRE transitive-dedup surface (cluster,
    // split, audits) runs serve-only against the snapshot tables.
    // Oracle = the in-query twin's reachability CTE.
    "q_dedup_cluster_indexed" -> ((s, d) =>
      clusterQ(prebuiltLabels(s, d))),

    // Leakage-free train/val/test split (the reason dedup and splitting
    // INTERACT in a real pipeline): hashing each doc independently puts
    // near-duplicate pairs on opposite sides of the train/test boundary
    // — memorized training text shows up verbatim in eval. The split
    // bucket is therefore hashed from the doc's near-dup CLUSTER
    // representative (min-label over the minhash pair graph; singletons
    // represent themselves), so an entire near-dup cluster always lands
    // in ONE split. 80/10/10 by content hash — deterministic, no
    // rand(), re-runs and retries agree. Scale: the propagation is
    // q_dedup_cluster's (rounds = component diameter); the rest is a
    // left join on doc_id and a narrow hash projection.
    "q_split_leakfree" -> ((s, d) => splitAssign(s, d).orderBy("doc_id")),

    // Cross-split span-contamination audit (VERDICT r16 next-round #2):
    // the check a lab runs before trusting eval numbers — does any
    // TEST-split document share an 8-token window with any TRAIN-split
    // document? The leak-free split guarantees zero sharing WITHIN a
    // near-dup cluster (cluster ⇒ one split); what remains, and what
    // this audit surfaces corpus-wide, is CROSS-cluster span sharing:
    // doc pairs that share a verbatim passage without clearing the 0.75
    // minhash threshold, plus chance window collisions. Output: one row
    // per contaminated test doc — its distinct window count and how many
    // of those windows also occur in train. Composition of two existing
    // projections (spanKeys × splitAssign), so every stage is an
    // equi-join on a compact key: the (doc_id, wh) dedup exchange, the
    // doc_id split join, the train-side wh distinct, and the wh-keyed
    // probe — no token explode, no cross join; the propagation rounds
    // are q_dedup_cluster's, shared. Reference analog: composing
    // continuous views over the same stream (README.md:66).
    "q_split_contam_audit" -> ((s, d) => contamAudit(s, d, splitAssign(s, d))),

    // The build/query split applied to the near-dup label propagation
    // (r17; the ANN `*_indexed` precedent): the min-label fixpoint is a
    // corpus property, so it materializes ONCE per corpus snapshot
    // (splitLabelDir) and the split assignment / contamination audit
    // become serve-only reads + the non-iterative joins. Oracles are the
    // in-query twins' — the recursive reachability CTE re-derives the
    // labels, so the prebuilt table stays correctness-covered.
    "q_split_leakfree_indexed" -> ((s, d) =>
      splitAssign(s, d, prebuiltLabels(s, d)).orderBy("doc_id")),
    "q_split_contam_audit_indexed" -> ((s, d) =>
      contamAudit(s, d, splitAssign(s, d, prebuiltLabels(s, d)))),

    // The FULLY indexed audit (r18, VERDICT r17 next-round #1): the
    // `_indexed` twin above removed the label propagation but still paid
    // the corpus-wide window-hash recompute (1,573 ms, exp 0.40 — the
    // one corpus-proportional stage left). With BOTH prebuilt tables —
    // near-dup labels and the span index — the audit is serve-only:
    // equi-joins and aggregates over materialized parquet, nothing
    // corpus-proportional but the index scan itself. This is the plan a
    // production trust check runs before every eval, amortizing both
    // builds across every audit/split/dedup decision on the snapshot.
    "q_split_contam_audit_spanindexed" -> ((s, d) =>
      contamAudit(s, d, splitAssign(s, d, prebuiltLabels(s, d)),
        prebuiltDocWh(s, d))),

    // BUCKETED serve twins for the LABEL-side prebuilt tables (r20,
    // VERDICT r19 next-round #1 — completes exchange-free serve across
    // the ENTIRE indexed family: minhash bands + spans/freq landed r19;
    // cluster labels and the audit's docwh rows were the two corpus-
    // keyed tables still serving from plain parquet). The split twin
    // joins the bucketed label table; the audit twin serves BOTH the
    // bucketed labels and the bucketed docwh probe rows — its only
    // remaining exchanges are on derived frames (the split projection,
    // the train-hash distinct), never on a stored index side.
    // PlanAuditSpec walks the physical tree and asserts no Exchange sits
    // above either bucketed scan with broadcast disabled. Oracles are
    // the in-query twins', verbatim — content identical, layout only.
    "q_split_leakfree_bucketed" -> ((s, d) =>
      splitAssign(s, d, bucketedLabels(s, d)).orderBy("doc_id")),
    "q_split_contam_audit_bucketed" -> ((s, d) =>
      contamAudit(s, d, splitAssign(s, d, bucketedLabels(s, d)),
        bucketedDocWh(s, d))),

    // 16-bit SimHash per document + same-signature cluster size. Per-bit
    // majority vote over token hashes; fixed-width state, single map pass,
    // one window shuffle on the 16-bit signature.
    "q_dedup_simhash" -> ((s, d) => {
      val bitSums = (0 until 16).map(b =>
        aggregate(col("th"), lit(0L),
          (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L)
                             .otherwise(-1L)).as(s"bs$b"))
      val sim = (0 until 16).map(b =>
        when(col(s"bs$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
      Tables.documents(s, d)
        // materialize token hashes once; 16 inline copies would md5 16×
        .select(col("doc_id"), transform(toks, t => hex7(t)).as("th"))
        .select(Seq(col("doc_id")) ++ bitSums: _*)
        .select(col("doc_id"), sim.as("simhash"))
        .withColumn("n_same",
          count(lit(1)).over(Window.partitionBy(col("simhash"))))
        .orderBy("doc_id")
    }),

    // n-gram Jaccard, two-phase: (1) candidate pairs from an inverted-index
    // join restricted to *rare* shingles (document frequency ≤ 20 — hot
    // shingles are what makes posting-list joins quadratic; near-dup PAIRS
    // share rare shingles, so recall is unaffected here);
    // (2) exact Jaccard on candidates via whole-set intersection. The join
    // cost drops from Σ df² over all shingles to Σ df² over rare ones.
    // Scale caveats, measured in the r14 10× rehearsal (PLANS.md appendix):
    // a near-dup CLUSTER wider than the df cutoff makes its own shingles
    // hot and invisible to the rare index — q_dedup_minhash is the scale
    // path covering that case; and on a corpus whose shingle space
    // saturates (only possible with the synthetic 31-word vocab) the rare
    // set empties and the stage correctly degenerates to zero work rather
    // than quadratic work.
    "q_dedup_ngram" -> ((s, d) => {
      val docSets = shingled(s, d)
        .select(col("doc_id"), array_distinct(col("shs")).as("shs"))
        // Read 3× below (posting list + both sides of the rescore); the
        // md5-per-token shingling is compute-dense enough that caching
        // beats recompute here (measured 1.43 s vs 1.90 s floor at sf0.1).
        // The harnesses (Bench/Verify) clearCache() after each query, so
        // this never outlives its query. At 100 TB swap MEMORY_AND_DISK
        // caching of full corpus shingle-sets for a recompute — the
        // 2-extra-scan cost beats corpus-sized spill churn on executors.
        .cache()
      val sh = docSets.select(col("doc_id"), explode(col("shs")).as("sh"))
      val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 20 && col("df") >= 2)
      // Count filtering (PPJoin-style): a Jaccard ≥ 0.6 pair of ~90-shingle
      // docs shares ≥ 67 shingles, so requiring ≥ 5 shared *rare* shingles
      // loses nothing while cutting candidates ~1000× (measured 1.12M → ~1k
      // at sf0.1; the rescore was 99.98% false positives without it).
      // The rare set stays lazy: the self-join evaluates its df
      // aggregation once per arm, but both arms read the in-memory
      // docSets cache, so the duplicated pass is nearly free while
      // materializing the rare set (1.26–1.36×) or expanding pairs
      // in-row per shingle (1.32–1.35×) adds a blocking job — both
      // measured slower at sf0.1.
      val rareKeys = rare.select("sh")
      val rareSh = sh.join(rareKeys, "sh")
      val x = rareSh.as("x"); val y = rareSh.as("y")
      val pairs = x.join(y, col("x.sh") === col("y.sh") &&
                            col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared_rare"))
        .filter(col("n_shared_rare") >= 5)
      pairs
        .join(docSets.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
        .join(docSets.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
                size(array_intersect(col("sa"), col("sb"))).as("n_common"),
                (size(col("sa")) + size(col("sb"))).as("n_total"))
        .select(col("doc_a"), col("doc_b"),
                // Q.r4: small-int ratio, half-boundary prone (see Q.r4 doc)
                graft.Q.r4(col("n_common").cast("double") /
                      (col("n_total") - col("n_common"))).as("jaccard"))
        .filter(col("jaccard") >= 0.6)
        .orderBy("doc_a", "doc_b")
    }),

    // Embedding near-dup: sign-bucket LSH prefilter, exact double cosine
    // within bucket. The bucket join replaces the O(n²) cross join; see
    // [[embcosPairs]] for the scale knobs (bucket width + banding) the
    // r14 rehearsal called for — the declared query runs the defaults
    // (8 bits, 1 band: the r14-identical plan and oracle), overridable
    // per session via graft.dedup.embcos.{bits,bands}.
    "q_dedup_embcos" -> ((s, d) => {
      // name the conf in the error instead of a bare NumberFormatException
      // (embcosPairs' require covers only the RANGE, not parseability)
      def knob(key: String, dflt: => Int): Int =
        s.conf.getOption(key).map { v =>
          try v.trim.toInt catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"$key must be an integer, got '$v'")
          }
        }.getOrElse(dflt)
      // r16 (VERDICT r15 #8): unset knobs resolve from the corpus row
      // count — the declared default no longer pins the saturating 8-bit
      // space above 10k vectors (measured exponent 0.78 at 10×; the
      // (12,4) config holds occupancy flat, PLANS.md appendix). r17
      // (ADVICE r16 #2): the count comes from parquet footer METADATA,
      // not a Spark job — constructing this DataFrame is action-free
      // again like every sibling entry, and footer counts equal count(*)
      // exactly, so the oracle's count(*) guard still mirrors the rule.
      // Production keys this off catalog row-count stats instead.
      lazy val auto = embcosDefaults(Tables.parquetRowCount(s, d, "embeddings"))
      val bits = knob("graft.dedup.embcos.bits", auto._1)
      val bands = knob("graft.dedup.embcos.bands", auto._2)
      embcosPairs(Tables.embeddings(s, d), bits, bands)
        // 0.95 is the production near-dup threshold; the synthetic
        // embeddings are random (max pairwise cos ≈ 0.51), so 0.35 keeps
        // the within-bucket scoring path observable in the oracle output.
        .filter(col("cos_sim") >= 0.35)
        .orderBy("vec_a", "vec_b")
    }),

    // The widened+banded embcos configuration as its own DECLARED query
    // (r15): the scale path the knobs exist for — 12-bit buckets hold
    // per-bucket occupancy flat at 10× (measured exponent 0.06 vs 0.78
    // for the 8-bit default; PLANS.md appendix) and 4 disjoint-slice
    // bands buy candidate recall back — oracle-checked here so the knob
    // configuration is correctness-gated, not just spec-measured.
    "q_dedup_embcos_banded" -> ((s, d) =>
      embcosPairs(Tables.embeddings(s, d), bits = 12, bands = 4)
        .filter(col("cos_sim") >= 0.35)
        .orderBy("vec_a", "vec_b")),

    // Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the embedding
    // space with a coarse k-means codebook, then prune near-duplicates
    // WITHIN each cluster only — the cluster assignment is the candidate
    // filter (pairs in different clusters are never compared), and the
    // keep rule is SemDeDup's: of a duplicate pair, keep the member
    // FARTHEST from its centroid (lowest cos-to-centroid; redundancy
    // concentrates near cluster centers, outliers carry the information).
    // Deterministic greedy form of that rule: drop x iff some same-cluster
    // y has pair-cos ≥ τ and strictly outranks x (lower cos_cent, vec_id
    // tie-break) — rank-minimal members are always kept, no iteration.
    // Plan: broadcast 16-row codebook → max_by assignment (one agg) →
    // cluster-key self-equi-join → vec_id-key marker join. 3 shuffles, no
    // cross join. Scale: within-cluster pair count is n²/k, and k is a
    // declaration-time parameter grown with the corpus (SemDeDup uses
    // k=50k on LAION-440M, ~9k per cluster) so cost stays ~linear; the
    // trained-codebook path (q_similarity_ivf_trained) supplies the
    // balanced k-means centroids at scale. τ = 0.35 for the same
    // random-synthetic-corpus reason as q_dedup_embcos above
    // (production: ~0.95+ on real embeddings).
    "q_dedup_semantic" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") <= 15)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      // THE shared assignment (Similarity.ivfAssignment — one definition
      // of the round(cos,6)/cent_id-tie-break determinism contract across
      // the ANN and dedup families), keeping the winning cosine: SemDeDup
      // ranks keep/drop by distance-to-centroid
      val assigned = Similarity
        .ivfAssignment(emb, cents, keepCos = true)
        .select(col("vec_id"), col("embedding"), col("cluster"), col("cos_cent"))
      // Drop-marking happens INSIDE the pair-join aggregation: one
      // left-outer self-join on the cluster key, then per-a-vec
      // aggregation — any surviving b-match means "dropped" — so the
      // assignment subtree appears only in the self-join's two arms
      // (irreducible for a self-join without materializing). The plan
      // stays lazy: at sf0.1 it measured 253 ms against 1,068 ms for an
      // eager cache+count of the assignment, whose job overhead
      // dominates at this scale.
      val a = assigned.as("a"); val b = assigned.as("b")
      a.join(b,
          col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") =!= col("b.vec_id") &&
          round(graft.operators.VectorOps.cosine(
            col("a.embedding"), col("b.embedding")), 4) >= 0.35 &&
          (col("b.cos_cent") < col("a.cos_cent") ||
           (col("b.cos_cent") === col("a.cos_cent") &&
            col("b.vec_id") < col("a.vec_id"))),
          "left")
        .groupBy(col("a.vec_id").as("vec_id"))
        .agg(max(col("a.cluster")).cast("long").as("cluster"),
             max(col("a.cos_cent")).as("cos_cent"),
             when(max(when(col("b.vec_id").isNotNull, 1).otherwise(0)) === 1, 0)
               .otherwise(1).as("is_kept"))
        .orderBy("vec_id")
    })
  )

  /** SF-keyed [[embcosPairs]] knob defaults (spec-pinned in DedupEdgeSpec):
    * ≤10k vectors keeps the r14-identical (8,1) — the gate SFs and any
    * corpus where the 256-bucket space holds occupancy low; above 10k the
    * measured scale configuration (12,4) takes over (flat occupancy
    * exponent 0.06 vs 0.78, banding buys the recall back — PLANS.md
    * appendix). Explicit session confs always win. */
  private[graft] def embcosDefaults(n: Long): (Int, Int) =
    if (n <= 10000L) (8, 1) else (12, 4)

  /** Sign-bucket LSH candidate generation for embedding near-dup, with
    * the two scale knobs the r14 rehearsal asked for (the 256-bucket
    * space was FIXED, so within-bucket pairs grew n²/256 — exponent 0.67
    * at 10×, the one dedup path creeping super-linear):
    *
    *  - `bits` (bucket width): bucket b of band k = sign bits of
    *    components [k·bits, (k+1)·bits). Pair count scales ~n²/2^bits on
    *    random data, so +4 bits buys a 16× occupancy cut — the widen-
    *    signature swap the r14 in-code note described, now a parameter.
    *  - `bands` (independent signatures over DISJOINT component slices,
    *    the q_similarity_lsh_multi pattern): a true near-dup pair agrees
    *    on most signs, so requiring agreement in ANY one band recovers
    *    the recall a wider bucket loses. Candidates are unioned across
    *    bands and deduped by (vec_a, vec_b) BEFORE thresholding; scores
    *    are identical across bands, so max() is a no-op dedup.
    *
    * bands=1 compiles to exactly the r14 single-signature plan (no
    * explode, no pair dedup) — the declared query's default and what the
    * DuckDB oracle mirrors. Occupancy/recall trade measured in
    * DedupEdgeSpec. At 100 TB: bits grows with log2(n) to hold per-bucket
    * occupancy flat, bands with the recall target. */
  private[graft] def embcosPairs(emb: DataFrame, bits: Int, bands: Int): DataFrame = {
    require(bits >= 1 && bands >= 1 && bits * bands <= 64,
      s"need bits*bands <= 64 sign sources, got $bits x $bands")
    def sigFor(k: Int): Column = (0 until bits).map(i =>
      when(element_at(col("embedding"), k * bits + i + 1) > 0f, lit(1L << i))
        .otherwise(0L)).reduce(_ + _)
    if (bands == 1) {
      val e = emb.select(col("vec_id"), col("embedding"), sigFor(0).as("bucket"))
      val a = e.as("a"); val b = e.as("b")
      a.join(b, col("a.bucket") === col("b.bucket") &&
                col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
                round(graft.operators.VectorOps.cosine(
                  col("a.embedding"), col("b.embedding")), 4).as("cos_sim"))
    } else {
      val e = emb.select(col("vec_id"), col("embedding"),
        explode(array((0 until bands).map(k =>
          struct(lit(k).as("bd"), sigFor(k).as("bucket"))): _*)).as("s"))
        .select(col("vec_id"), col("embedding"),
                col("s.bd").as("bd"), col("s.bucket").as("bucket"))
      val a = e.as("a"); val b = e.as("b")
      a.join(b, col("a.bd") === col("b.bd") &&
                col("a.bucket") === col("b.bucket") &&
                col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
                round(graft.operators.VectorOps.cosine(
                  col("a.embedding"), col("b.embedding")), 4).as("cs"))
        .groupBy("vec_a", "vec_b")
        .agg(max(col("cs")).as("cos_sim"))
    }
  }

  // shared with TextAnalysis (q_repetition reuses the shingle identity)
  private[queries] val thSql =
    "list_transform(string_split(text,' '), t -> CAST(concat('0x', substr(md5(t),1,7)) AS BIGINT))"
  private[queries] val shingleHashSql =
    s"list_transform(range(1, len(th) - 1), i -> ((th[i] * 65599 + th[i+1]) % $P * 65599 + th[i+2]) % $P)"
  private val sigSelSql = AB.zipWithIndex.map { case ((a, b), i) =>
    s"list_min(list_transform(h, v -> ($a * v + $b) % $P)) AS mh$i"
  }.mkString(", ")
  private val bandsSql = (0 until 4).map(bd =>
    s"SELECT doc_id, $bd AS band, concat(mh${2 * bd}, '_', mh${2 * bd + 1}) AS bk FROM sig")
    .mkString(" UNION ALL ")

  /** Exact-double cosine between two embedding list columns, rounded r4 —
    * the embcos scoring expression, shared by every oracle branch. */
  private def embcosCosSql(x: String, y: String): String =
    s"""round(list_sum(list_transform(list_zip($x, $y),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           / sqrt(list_sum(list_transform($x, u -> CAST(u AS DOUBLE) * CAST(u AS DOUBLE)))
                * list_sum(list_transform($y, u -> CAST(u AS DOUBLE) * CAST(u AS DOUBLE)))), 4)"""

  /** Banded embcos candidate pairs: band k's bucket = sign bits of
    * components [k·bits, (k+1)·bits); candidates unioned across bands and
    * deduped by pair (scores are identical across bands so max() is a
    * no-op dedup) — the exact mirror of embcosPairs(bits, bands). Emits
    * (vec_a, vec_b, cos_sim); caller adds threshold + ORDER BY. */
  private def embcosBandedPairsSql(bits: Int, bands: Int): String = {
    def sig(k: Int) = (0 until bits).map(i =>
      s"CASE WHEN embedding[${k * bits + i + 1}] > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    val bandSrc = (0 until bands).map(k =>
      s"SELECT vec_id, embedding, $k AS bd, ${sig(k)} AS bucket FROM embeddings")
      .mkString(" UNION ALL ")
    s"""SELECT vec_a, vec_b, max(cs) AS cos_sim FROM (
          SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
                 ${embcosCosSql("a.embedding", "c.embedding")} AS cs
          FROM ($bandSrc) a JOIN ($bandSrc) c
            ON a.bd = c.bd AND a.bucket = c.bucket AND a.vec_id < c.vec_id)
        GROUP BY vec_a, vec_b"""
  }

  private val minhashOracleSql =
    s"""WITH tok AS (SELECT doc_id, $thSql AS th FROM documents),
          hs AS (SELECT doc_id, $shingleHashSql AS h FROM tok),
          sig AS (SELECT doc_id, $sigSelSql FROM hs WHERE len(h) > 0),
          bands AS ($bandsSql),
          pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                    FROM bands x JOIN bands y
                      ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id)
        SELECT p.doc_a, p.doc_b,
               round((${(0 until 8).map(i => s"CASE WHEN s1.mh$i = s2.mh$i THEN 1 ELSE 0 END").mkString(" + ")}) / 8.0, 4) AS est_jaccard
        FROM pairs p JOIN sig s1 ON p.doc_a = s1.doc_id
                     JOIN sig s2 ON p.doc_b = s2.doc_id
        ORDER BY doc_a, doc_b"""

  /** Shared recursive-reachability CTE block over the minhash near-dup
    * pair graph (threshold 0.75) — the SQL twin of [[clusterLabels]],
    * spliced after `WITH RECURSIVE` by both the q_dedup_cluster and
    * q_split_leakfree oracles so the clustering rule lives in ONE place
    * on each engine side (review r16). */
  private val reachCteSql =
    s"""mh AS (SELECT * FROM ($minhashOracleSql)),
            e0 AS (SELECT doc_a, doc_b FROM mh WHERE est_jaccard >= 0.75),
            edges AS (SELECT doc_a AS s, doc_b AS t FROM e0
                      UNION SELECT doc_b, doc_a FROM e0),
            reach(s, t) AS (
              SELECT s, t FROM edges
              UNION
              SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
            nodes AS (SELECT DISTINCT s AS d FROM edges)"""

  /** [[reachCteSql]] extended to the full split assignment `sp(doc_id,
    * rep, split)` — the SQL twin of [[splitAssign]], shared by the
    * q_split_leakfree and q_split_contam_audit oracles so the bucket
    * rule lives in ONE place on each engine side. */
  private val splitCteSql =
    s"""$reachCteSql,
            reps AS (SELECT n.d AS doc_id, least(n.d, min(r.t)) AS rep
                     FROM nodes n JOIN reach r ON r.s = n.d GROUP BY n.d),
            withrep AS (SELECT a.doc_id, coalesce(p.rep, a.doc_id) AS rep
                        FROM documents a LEFT JOIN reps p USING (doc_id)),
            sp AS (SELECT doc_id, rep,
                   CASE WHEN bk < 80 THEN 'train'
                        WHEN bk < 90 THEN 'val'
                        ELSE 'test' END AS split
                   FROM (SELECT doc_id, rep,
                         CAST(concat('0x', substr(md5(concat('split#',
                           CAST(rep AS VARCHAR))),1,7)) AS BIGINT) % 100 AS bk
                         FROM withrep))"""

  /** The contamination-audit oracle, shared verbatim by the in-query and
    * `_indexed` declared twins: the split CTE + the q_dedup_spans window
    * hashes — distinct 8-token window hashes per doc, train-side hash
    * set, per-test-doc overlap counts. */
  private lazy val contamAuditOracleSql =
    s"""WITH RECURSIVE
            $splitCteSql,
            tokw AS (SELECT doc_id, $thSql AS th FROM documents),
            ww AS (SELECT doc_id, unnest(range(1, len(th) - 6)) AS pos, th
                   FROM tokw WHERE len(th) >= 8),
            whs AS (SELECT DISTINCT doc_id,
                    list_reduce(list_concat([CAST(0 AS BIGINT)],
                                            list_slice(th, pos, pos + 7)),
                                (a, h) -> (a * 65599 + h) % $P) AS wh
                    FROM ww),
            tw AS (SELECT DISTINCT w.wh FROM whs w
                   JOIN sp USING (doc_id) WHERE sp.split = 'train'),
            te AS (SELECT w.doc_id, w.wh FROM whs w
                   JOIN sp USING (doc_id) WHERE sp.split = 'test')
          SELECT te.doc_id, count(*) AS n_wh, count(tw.wh) AS n_shared,
                 ${graft.Q.r4Sql("CAST(count(tw.wh) AS DOUBLE) / count(*)")}
                   AS shared_frac
          FROM te LEFT JOIN tw ON te.wh = tw.wh
          GROUP BY te.doc_id
          HAVING count(tw.wh) > 0
          ORDER BY te.doc_id"""

  /** The q_dedup_spans oracle, shared verbatim by the in-query and
    * span-index serve twins: overlapping Rabin–Karp window hashes (fold
    * seed 0, (a·65599+h) mod P — the exact mirror of graft_spanhashes),
    * document-frequency flagging, per-doc counts + gaps-and-islands
    * longest run. */
  private lazy val spansOracleSql =
    s"""WITH tok AS (SELECT doc_id, $thSql AS th FROM documents),
            w AS (SELECT doc_id, unnest(range(1, len(th) - 6)) AS pos, th
                  FROM tok WHERE len(th) >= 8),
            wh AS (SELECT doc_id, pos,
                   list_reduce(list_concat([CAST(0 AS BIGINT)],
                                           list_slice(th, pos, pos + 7)),
                               (a, h) -> (a * 65599 + h) % $P) AS wh
                   FROM w),
            freq AS (SELECT wh, count(DISTINCT doc_id) AS nd
                     FROM wh GROUP BY wh),
            f AS (SELECT w2.doc_id, w2.pos, (freq.nd >= 2) AS dup
                  FROM wh w2 JOIN freq USING (wh)),
            runs AS (SELECT doc_id,
                       pos - row_number() OVER (PARTITION BY doc_id
                                                ORDER BY pos) AS grp
                     FROM f WHERE dup),
            runlen AS (SELECT doc_id, count(*) AS rl
                       FROM runs GROUP BY doc_id, grp),
            mr AS (SELECT doc_id, max(rl) AS max_run
                   FROM runlen GROUP BY doc_id),
            stats AS (SELECT doc_id, count(*) AS n_windows,
                             count(*) FILTER (dup) AS n_dup
                      FROM f GROUP BY doc_id)
          SELECT s.doc_id, s.n_windows, s.n_dup,
                 ${graft.Q.r4Sql("CAST(s.n_dup AS DOUBLE) / s.n_windows")} AS dup_frac,
                 coalesce(m.max_run, CAST(0 AS BIGINT)) AS max_run
          FROM stats s LEFT JOIN mr m USING (doc_id)
          ORDER BY s.doc_id"""

  /** The q_dedup_spans_clean oracle, shared verbatim with its indexed
    * serve twin: keeper = min doc_id per window hash; removed windows
    * cover tokens pos..pos+7 (1-based here, 0-based Spark-side —
    * internally consistent, values identical); reassembly = ordered
    * string_agg. */
  private lazy val spansCleanOracleSql =
    s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS ws,
                              $thSql AS th FROM documents),
            w AS (SELECT doc_id, unnest(range(1, len(th) - 6)) AS pos, th
                  FROM tok WHERE len(th) >= 8),
            wh AS (SELECT doc_id, pos,
                   list_reduce(list_concat([CAST(0 AS BIGINT)],
                                           list_slice(th, pos, pos + 7)),
                               (a, h) -> (a * 65599 + h) % $P) AS wh
                   FROM w),
            freq AS (SELECT wh, count(DISTINCT doc_id) AS nd,
                            min(doc_id) AS keeper
                     FROM wh GROUP BY wh),
            rem AS (SELECT w2.doc_id, w2.pos FROM wh w2 JOIN freq USING (wh)
                    WHERE freq.nd >= 2 AND w2.doc_id <> freq.keeper),
            cov AS (SELECT DISTINCT doc_id, pos + r.i AS tpos
                    FROM rem, (SELECT unnest(range(0, 8)) AS i) r),
            toks AS (SELECT doc_id, unnest(ws) AS tok,
                            generate_subscripts(ws, 1) AS tpos FROM tok),
            kept AS (SELECT t.doc_id, t.tpos, t.tok FROM toks t
                     LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
                     WHERE c.doc_id IS NULL)
          SELECT d.doc_id,
                 CAST(len(d.ws) AS BIGINT) AS n_tokens,
                 CAST(len(d.ws) AS BIGINT) - count(k.tpos) AS n_removed,
                 coalesce(string_agg(k.tok, ' ' ORDER BY k.tpos), '') AS text_clean
          FROM tok d LEFT JOIN kept k USING (doc_id)
          GROUP BY d.doc_id, len(d.ws)
          ORDER BY d.doc_id"""

  /** The q_dedup_cluster oracle, shared verbatim with its indexed serve
    * twin (connected components via the recursive reachability CTE). */
  private lazy val clusterOracleSql =
    s"""WITH RECURSIVE
            $reachCteSql
          SELECT n.d AS doc_id,
                 least(n.d, min(r.t)) AS cluster_id,
                 CAST(n.d = least(n.d, min(r.t)) AS INT) AS is_keeper
          FROM nodes n JOIN reach r ON r.s = n.d
          GROUP BY n.d ORDER BY doc_id"""

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT fp, n_copies, keeper FROM (
           SELECT md5(text) AS fp, count(*) AS n_copies, min(doc_id) AS keeper
           FROM documents GROUP BY md5(text))
         WHERE n_copies > 1 ORDER BY fp""",
    // the canonical-form mirror: DuckDB's nfc_normalize implements the
    // same Unicode NFC as graft_unorm; variants replayed from the shared
    // constants — the decomposed marker spelled with chr(769) (combining
    // acute) so the two plant forms are byte-DISJOINT inputs that md5 to
    // one canonical digest on both engines
    "q_dedup_unicode" ->
      s"""WITH sampled AS (SELECT doc_id, text FROM documents
                           WHERE doc_id % 101 = 5),
            all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + $uniOff1,
                     'Caf' || chr(233) || ' R' || chr(233) || 'sum'
                       || chr(233) || ' ' || upper(text)
              FROM sampled
              UNION ALL
              SELECT doc_id + $uniOff2,
                     'Cafe' || chr(769) || '  Re' || chr(769) || 'sume'
                       || chr(769) || ' ' || text || '  '
              FROM sampled),
            canon AS (SELECT doc_id,
              lower(regexp_replace(trim(nfc_normalize(text)),
                                   ' +', ' ', 'g')) AS c
              FROM all_docs)
          SELECT md5(c) AS fp, count(*) AS n_copies, min(doc_id) AS keeper
          FROM canon GROUP BY md5(c) HAVING count(*) > 1 ORDER BY fp""",
    "q_dedup_minhash" -> minhashOracleSql,
    // the signature-index serve twin re-runs the SAME oracle — the CTE
    // re-derives every signature/band row the prebuilt table stores
    "q_dedup_minhash_indexed" -> minhashOracleSql,
    "q_dedup_minhash_bucketed" -> minhashOracleSql,
    "q_dedup_lines" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         ), pos AS (
           SELECT doc_id, ws,
                  unnest(range(0, CAST(ceil(len(ws)/8.0) AS BIGINT))) AS pos
           FROM toks
         ), segs AS (
           SELECT doc_id, pos,
                  array_to_string(list_slice(ws, pos*8+1, pos*8+8), ' ') AS seg
           FROM pos
         ), freq AS (
           SELECT seg, count(DISTINCT doc_id) AS ndocs FROM segs GROUP BY seg
         )
         SELECT s.doc_id,
                count(*) AS n_segs,
                count(*) FILTER (WHERE f.ndocs <= 2) AS n_kept,
                coalesce(string_agg(s.seg, ' ' ORDER BY s.pos)
                           FILTER (WHERE f.ndocs <= 2), '') AS text_clean
         FROM segs s JOIN freq f USING (seg)
         GROUP BY s.doc_id ORDER BY s.doc_id""",
    // overlapping Rabin–Karp window hashes; fold seed 0, (a·65599+h) mod P
    // — the exact mirror of the aggregate(slice(th, i, 8), …) formulation
    "q_dedup_spans" -> spansOracleSql,
    // the span-index serve twin re-runs the SAME oracle: the CTE
    // re-derives every (doc_id, pos, wh) row the prebuilt index stores,
    // so the one-time build stays correctness-covered (the ANN indexed
    // family's pattern)
    "q_dedup_spans_indexed" -> spansOracleSql,
    "q_dedup_spans_bucketed" -> spansOracleSql,
    // keeper = min doc_id per window hash; removed windows cover tokens
    // pos..pos+7 (1-based here, 0-based Spark-side — internally
    // consistent, values identical); reassembly = ordered string_agg.
    // The indexed serve twin re-runs the SAME oracle (the CTE re-derives
    // the spans + freq tables it reads).
    "q_dedup_spans_clean" -> spansCleanOracleSql,
    "q_dedup_spans_clean_indexed" -> spansCleanOracleSql,
    // the spans_clean oracle shape with the frequency side replaced by
    // the pinned benchmark span set; bench docs excluded from the output
    // (they are the eval artifact, not training data)
    "q_decontam_clean" -> {
      // phrase / predicates / window width are the SHARED constants the
      // Spark query interpolates (decontamK etc. above) — a one-sided
      // change is impossible by construction
      val planted =
        s"""CASE WHEN $plantPredSql
                 THEN concat('$decontamPhrase', text) ELSE text END"""
      def benchPred(alias: String) =
        benchPredSql.replace("doc_id", s"$alias.doc_id")
      s"""WITH src AS (SELECT doc_id, $planted AS text FROM documents),
            tok AS (SELECT doc_id, string_split(text,' ') AS ws,
                              $thSql AS th FROM src),
            w AS (SELECT doc_id, unnest(range(1, len(th) - ${decontamK - 2}))
                    AS pos, th
                  FROM tok WHERE len(th) >= $decontamK),
            wh AS (SELECT doc_id, pos,
                   list_reduce(list_concat([CAST(0 AS BIGINT)],
                                           list_slice(th, pos, pos + ${decontamK - 1})),
                               (a, h) -> (a * 65599 + h) % $P) AS wh
                   FROM w),
            bwh AS (SELECT DISTINCT wh FROM wh WHERE $benchPredSql),
            rem AS (SELECT w2.doc_id, w2.pos FROM wh w2 JOIN bwh USING (wh)
                    WHERE NOT ${benchPred("w2")}),
            cov AS (SELECT DISTINCT doc_id, pos + r.i AS tpos
                    FROM rem, (SELECT unnest(range(0, $decontamK)) AS i) r),
            toks AS (SELECT doc_id, unnest(ws) AS tok,
                            generate_subscripts(ws, 1) AS tpos FROM tok
                     WHERE NOT $benchPredSql),
            kept AS (SELECT t.doc_id, t.tpos, t.tok FROM toks t
                     LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
                     WHERE c.doc_id IS NULL)
          SELECT d.doc_id,
                 CAST(len(d.ws) AS BIGINT) AS n_tokens,
                 CAST(len(d.ws) AS BIGINT) - count(k.tpos) AS n_removed,
                 coalesce(string_agg(k.tok, ' ' ORDER BY k.tpos), '') AS text_clean
          FROM tok d LEFT JOIN kept k USING (doc_id)
          WHERE NOT ${benchPred("d")}
          GROUP BY d.doc_id, len(d.ws)
          ORDER BY d.doc_id"""
    },
    "q_dedup_simhash" ->
      s"""WITH th AS (SELECT doc_id,
                 list_transform(string_split(text,' '),
                   t -> CAST(concat('0x', substr(md5(t),1,7)) AS BIGINT)) AS h
               FROM documents),
            bits AS (SELECT doc_id,
                 ${(0 until 16).map(b => s"list_sum(list_transform(h, v -> CASE WHEN (v >> $b) & 1 = 1 THEN 1 ELSE -1 END)) AS bs$b").mkString(", ")}
               FROM th),
            sh AS (SELECT doc_id,
                 ${(0 until 16).map(b => s"CASE WHEN bs$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")} AS simhash
               FROM bits)
          SELECT doc_id, CAST(simhash AS BIGINT) AS simhash,
                 count(*) OVER (PARTITION BY simhash) AS n_same
          FROM sh ORDER BY doc_id""",
    "q_dedup_ngram" ->
      s"""WITH tok AS (SELECT doc_id, $thSql AS th FROM documents),
            docsets AS (SELECT doc_id, list_distinct($shingleHashSql) AS shs FROM tok),
            sh AS (SELECT doc_id, unnest(shs) AS sh FROM docsets),
            rare AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
                     WHERE df <= 20 AND df >= 2),
            rsh AS (SELECT doc_id, s.sh FROM sh s JOIN rare r ON s.sh = r.sh),
            pairs AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
                      FROM rsh x JOIN rsh y ON x.sh = y.sh AND x.doc_id < y.doc_id
                      GROUP BY x.doc_id, y.doc_id HAVING count(*) >= 5)
          SELECT doc_a, doc_b, jaccard FROM (
            SELECT doc_a, doc_b,
                   ${graft.Q.r4Sql("""CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                         / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))""")} AS jaccard
            FROM pairs JOIN docsets a ON doc_a = a.doc_id
                       JOIN docsets b ON doc_b = b.doc_id)
          WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b""",
    // connected components as a recursive reachability CTE over the
    // same minhash pair graph: the oracle needs no iteration count —
    // the fixpoint is DuckDB's recursive-union semantics. The indexed
    // serve twin re-runs the SAME oracle (the CTE re-derives the stored
    // label fixpoint).
    "q_dedup_cluster" -> clusterOracleSql,
    "q_dedup_cluster_indexed" -> clusterOracleSql,
    // the same reachability CTE, extended: every doc gets its cluster
    // representative (self for singletons) and the split bucket hashes
    // the REPRESENTATIVE — the exact mirror of the leakage-free rule
    "q_split_leakfree" ->
      s"""WITH RECURSIVE
            $splitCteSql
          SELECT doc_id, rep, split FROM sp ORDER BY doc_id""",
    // the `_indexed` serve twins re-run the SAME oracles: the recursive
    // reachability CTE re-derives the labels the prebuilt table stores,
    // so the one-time build stays correctness-covered (the ANN indexed
    // family's pattern)
    "q_split_leakfree_indexed" ->
      s"""WITH RECURSIVE
            $splitCteSql
          SELECT doc_id, rep, split FROM sp ORDER BY doc_id""",
    // the audit composes the SAME split CTE with the q_dedup_spans window
    // hashes: distinct 8-token window hashes per doc, train-side hash
    // set, per-test-doc overlap counts
    "q_split_contam_audit" -> contamAuditOracleSql,
    "q_split_contam_audit_indexed" -> contamAuditOracleSql,
    // the fully-indexed twin (labels + span index prebuilt) re-runs the
    // same audit SQL — BOTH one-time builds stay correctness-covered
    "q_split_contam_audit_spanindexed" -> contamAuditOracleSql,
    // r20 bucketed twins: same content, bucketed layout — the shared
    // oracles keep the bucketed label/docwh builds correctness-covered
    "q_split_leakfree_bucketed" ->
      s"""WITH RECURSIVE
            $splitCteSql
          SELECT doc_id, rep, split FROM sp ORDER BY doc_id""",
    "q_split_contam_audit_bucketed" -> contamAuditOracleSql,
    // r16: the default-keyed entry mirrors [[embcosDefaults]] — a
    // count(*) guard selects the (8,1) branch at ≤10k vectors and the
    // (12,4) branch above (DuckDB evaluates both plans; the losing
    // branch's join still runs but its filter empties it — acceptable
    // oracle-side cost, and exactly what the r15 rehearsal already paid
    // for the saturated 8-bit join at 10×)
    "q_dedup_embcos" ->
      s"""WITH e AS (SELECT vec_id, embedding,
                 ${(0 until 8).map(i => s"CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")} AS bucket
               FROM embeddings),
            small AS (
              SELECT vec_a, vec_b, cos_sim FROM (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       ${embcosCosSql("a.embedding", "b.embedding")} AS cos_sim
                FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              WHERE cos_sim >= 0.35
                AND (SELECT count(*) FROM embeddings) <= 10000),
            large AS (
              SELECT vec_a, vec_b, cos_sim FROM (${embcosBandedPairsSql(12, 4)})
              WHERE cos_sim >= 0.35
                AND (SELECT count(*) FROM embeddings) > 10000)
          SELECT * FROM (SELECT * FROM small UNION ALL SELECT * FROM large)
          ORDER BY vec_a, vec_b""",
    "q_dedup_embcos_banded" ->
      s"""SELECT vec_a, vec_b, cos_sim FROM (${embcosBandedPairsSql(12, 4)})
          WHERE cos_sim >= 0.35 ORDER BY vec_a, vec_b""",
    "q_dedup_semantic" -> {
      def cosS(x: String, y: String) =
        s"""list_sum(list_transform(list_zip($x, $y),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
            / sqrt(list_sum(list_transform($x, u -> CAST(u AS DOUBLE) * CAST(u AS DOUBLE)))
                 * list_sum(list_transform($y, u -> CAST(u AS DOUBLE) * CAST(u AS DOUBLE))))"""
      s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
                         FROM embeddings WHERE vec_id <= 15),
            assigned AS (
              SELECT vec_id, embedding, cent_id AS cluster, cos_c AS cos_cent FROM (
                SELECT e.vec_id, e.embedding, c.cent_id,
                       round(${cosS("e.embedding", "c.cent_emb")}, 6) AS cos_c,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round(${cosS("e.embedding", "c.cent_emb")}, 6) DESC,
                                  c.cent_id ASC) AS rn
                FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
            dropped AS (
              SELECT DISTINCT a.vec_id
              FROM assigned a JOIN assigned b
                ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
               AND round(${cosS("a.embedding", "b.embedding")}, 4) >= 0.35
               AND (b.cos_cent < a.cos_cent
                    OR (b.cos_cent = a.cos_cent AND b.vec_id < a.vec_id)))
          SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster, a.cos_cent,
                 CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS is_kept
          FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
          ORDER BY a.vec_id"""
    }
  )
}
