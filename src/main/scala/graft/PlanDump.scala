package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Regenerates PLANS.md: the physical-plan audit backing README.md's scale
  * claims. For each audited query, keeps the plan lines that witness (or
  * would betray) the contract — shuffle/broadcast placement, partial
  * aggregation, pushed filters, pruned read schemas, top-k compilation,
  * and any cross-join/sort-merge fallbacks.
  *
  * Usage: `sbt "runMain graft.PlanDump [sfDir] [outFile]"`.
  */
object PlanDump {

  private val audit = Seq(
    "q_filter_pred", "q_join_multi", "q_topk", "q_agg_multi", "q_window_rank",
    "q_dedup_minhash", "q_dedup_ngram", "q_dedup_embcos", "q_similarity_topk",
    "q_similarity_lsh_multi", "q_similarity_ivf", "q_similarity_ivf_trained",
    "q_join_asof", "q_join_range", "q_tfidf",
    "q_grouping_sets", "q_window_session", "q_pii_scrub", "q_decontam",
    "q_agg_salted", "q_embed_quant", "q_sql_tpch3", "q_upsert_last_wins",
    "q_corpus_filter", "q_dedup_lines", "q_approx_percentile",
    "q_chunk_docs", "q_unigram_logprob", "q_dedup_semantic",
    "q_similarity_pq", "q_similarity_ivfpq", "q_similarity_ivf_nprobe",
    "q_similarity_ivfpq_res", "q_similarity_ivfpq_nprobe",
    "q_similarity_batch",
    "q_dedup_spans", "q_dedup_spans_clean", "q_sample_stratified",
    "q_quality_classifier", "q_split_leakfree", "q_split_contam_audit",
    "q_vocab_coverage", "q_decontam_clean", "q_mixture_budget",
    "q_split_leakfree_indexed", "q_split_contam_audit_indexed",
    "q_dedup_spans_indexed", "q_split_contam_audit_spanindexed",
    "q_media_phash", "q_dedup_minhash_indexed", "q_media_phash_pairs",
    "q_dedup_spans_clean_indexed", "q_dedup_cluster_indexed",
    "q_dedup_unicode",
    "q_dedup_minhash_bucketed", "q_dedup_spans_bucketed",
    "q_media_audiofp", "q_media_audiofp_pairs", "q_vocab_train",
    "q_split_leakfree_bucketed", "q_split_contam_audit_bucketed",
    "q_vocab_segment_trained")

  private val keep = Seq("Exchange", "HashAggregate", "BroadcastHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin",
    "ShuffledHashJoin", "SortAggregate", "TakeOrderedAndProject",
    "WindowGroupLimit", "Generate", "PushedFilters", "ReadSchema",
    // materialization witnesses: an InMemoryTableScan over ONE
    // InMemoryRelation is how the plan proves a shared subtree (trained
    // codebooks, q_dedup_semantic's assignment) is computed once and
    // reused — the repeated aggregate lines under it are the cached
    // plan's DESCRIPTION, not re-execution
    "InMemoryTableScan", "InMemoryRelation")

  // Adjudicated design decisions that the plan alone doesn't witness —
  // emitted under the matching section so they survive regeneration.
  private val notes = Map(
    "q_dedup_spans" ->
      ("""Design (r16): span-level exact-substring dedup (Lee et al. 2021)
         |as rolling-hash windows. The window-hash frequency aggregate is
         |ONE exchange on an 8-byte key; the join back is the same key
         |(frequency side = one row per hash, so a corpus-wide boilerplate
         |span is one broadcast-ably small build row, never a skewed
         |bucket); per-doc stats AND the longest duplicated run come out
         |of ONE doc_id aggregation (run length via a fold over the sorted
         |duplicated positions — a windowed gaps-and-islands branch would
         |recompute the join subtree and pay an extra exchange + join).
         |Window hashing is the native graft_spanhashes expression
         |(ShingleHashes.computeK): one codegen'd loop per row replaced
         |the interpreted transform/aggregate/slice lambda tree — measured
         |1,680 -> 968 ms at sf0.1. 8x the rows of q_dedup_lines' fixed
         |segmentation buys shift-invariance — still linear in corpus
         |tokens, same plan family.""").stripMargin,
    "q_dedup_spans_clean" ->
      ("""Design (r16): the removal half of span dedup — keeper = min
         |doc_id per window hash, every other occurrence cut, docs
         |reassembled from surviving tokens (the q_dedup_lines collect/
         |sort/join pattern). Coverage explode is bounded by 8x the
         |duplicated tokens; the kept-token anti-join and reassembly are
         |(doc_id, pos)- and doc_id-keyed equi-joins. An exact copy of an
         |earlier doc empties completely; a shifted shared passage is cut
         |exactly (spec-pinned) — the fixed-segment variant can't do
         |either without alignment luck.
         |r17 (VERDICT r16 #2): the full-corpus token explode +
         |(doc_id, pos) anti-join + collect/sort reassembly are GONE.
         |The removal side collapses to one row per AFFECTED doc
         |(collect_list of its removed window positions), and the cut is
         |a narrow projection after a left equi-join of the corpus scan
         |against that (broadcastable) frame: array_except(positions,
         |coverage) — hash-based, O(tokens + coverage) per row even for
         |a fully-duplicated huge doc — then an ordered index transform;
         |clean docs take the null arm and keep their token array
         |untouched. The plan below shows exactly TWO exchanges (wh
         |frequency, per-doc removal positions) plus the output sort;
         |the only Generate left is spanKeys' window posexplode.
         |Measured at sf0.1: 534 ms vs 593 ms for the r16 shape on the
         |same box (a per-token array_contains variant measured 470 ms
         |here but is O(tokens x coverage) — a straggler row on an
         |exact copy of a large doc; the verdict's semi-join/union
         |alternative measured 1,169 ms — the lazy-localCheckpoint
         |materialization cost more than it saved; both rejected).
         |Identical oracle hash; FLAT at 10x in the r17 rehearsal
         |(339 -> 332 ms).""").stripMargin,
    "q_split_leakfree" ->
      ("""Design (r16): train/val/test assignment hashed from the near-dup
         |CLUSTER representative (q_dedup_cluster's min-label fixpoint,
         |shared helper), not the doc — per-doc hashing puts near-dup
         |pairs on opposite sides of the train/test boundary (the
         |contrast is spec-demonstrated on the gate corpus). Costs one
         |left join + a narrow hash projection on top of the propagation
         |rounds; at 100 TB the propagation is the same job count as the
         |dedup pass the pipeline already runs.""").stripMargin,
    "q_split_contam_audit" ->
      ("""Design (r17, VERDICT r16 next-round #2): the pre-eval trust
         |check — does any TEST-split doc share an 8-token window with
         |any TRAIN-split doc? Composes the two existing projections
         |(spanKeys x splitAssign): per-doc distinct window hashes join
         |the split on doc_id, the train-side hash set distincts on wh,
         |and the test side probes it with a wh-keyed left join — every
         |stage an equi-join on a compact key, no token explode beyond
         |spanKeys' own. The leak-free split guarantees zero sharing
         |WITHIN a near-dup cluster, so any hit is CROSS-cluster verbatim
         |passage reuse below the 0.75 minhash threshold (the residual
         |leak class; spec plants one and the audit reports exactly it).
         |The gate corpus audits CLEAN at sf0.01 — the empty result is
         |the assertion a lab wants, and the spec keeps it non-vacuous.""").stripMargin,
    "q_split_leakfree_indexed" ->
      ("""Design (r17): the ANN build/query split applied to the near-dup
         |label propagation — the min-label fixpoint is a property of the
         |CORPUS, so it materializes once per corpus snapshot
         |(Dedup.splitLabelDir via graft.Prebuilt: memoized on a file
         |fingerprint, rebuilt on in-place regeneration, swept at JVM
         |exit) and the split assignment becomes a serve-only read + one
         |left join + the hash projection. The audit twin
         |(q_split_contam_audit_indexed) reads the same table. Oracles
         |are the in-query twins' — the recursive reachability CTE
         |re-derives the stored labels, so build correctness stays
         |oracle-covered exactly like the ANN indexed family.""").stripMargin,
    "q_dedup_spans_indexed" ->
      ("""Design (r18, VERDICT r17 next-round #1): the build/query split
         |applied to the window-hash projection itself. spanKeys — an md5
         |per token plus the rolling fold, corpus-proportional — was
         |recomputed inside every spans-family query; the (doc_id, p, wh)
         |rows are a property of the corpus snapshot, so they materialize
         |once (Dedup.spanIndexDir via graft.Prebuilt: fingerprint-keyed
         |memo, JVM-exit sweep — the label-table/ANN machinery) and the
         |stats plan reads parquet instead of rehashing. K = 8 is the
         |family-wide width, so ONE index serves the dedup stats and the
         |contamination audit. At 100 TB the table is written BUCKETED BY
         |wh, which also removes the frequency aggregate's exchange; the
         |oracle re-derives every index row via the in-query twin's SQL.""").stripMargin,
    "q_split_contam_audit_spanindexed" ->
      ("""Design (r18): the fully-indexed audit — prebuilt near-dup labels
         |(r17) AND the prebuilt span index (r18). q_split_contam_audit_
         |indexed still paid the corpus-wide window-hash recompute (its
         |one corpus-proportional stage, exp 0.40); with both tables
         |materialized the pre-eval trust check is serve-only: equi-joins
         |and aggregates over parquet, nothing corpus-proportional but
         |the index scan. This is the shape a lab runs before EVERY eval,
         |amortizing both one-time builds across every audit on the
         |snapshot. Oracle = the full in-query audit SQL (both builds
         |correctness-covered).""").stripMargin,
    "q_dedup_unicode" ->
      ("""Design (r18): normalization-aware exact dedup — the C4/CCNet
         |canonical-form pass. Duplicates agree after Unicode NFC +
         |casefold + whitespace collapse even when raw bytes are
         |disjoint (composed vs combining accents, case, spacing — what
         |crawl re-encodes produce). NFC runs through the native
         |codegen'd graft_unorm (Spark has no normalization built-in; a
         |UDF would break whole-stage codegen; the ASCII fast path is a
         |scan + identity return, no copy), then the q_dedup_exact
         |digest-keyed exchange. The pure-ASCII synthetic corpus makes
         |NFC the identity, so the plant unions in byte-disjoint variant
         |pairs (composed marker + UPPER vs decomposed marker + doubled
         |spaces) that must meet at one canonical digest; the oracle
         |replays them with chr(769) and DuckDB's nfc_normalize — the
         |same Unicode standard, byte-agreeing canonical forms.
         |Scan-bound at 100 TB: one narrow map, one exchange.""").stripMargin,
    "q_dedup_cluster_indexed" ->
      ("""Design (r18): the cluster output is a pure projection of the
         |stored min-label fixpoint, so serving is one parquet read plus
         |the keeper flag — every iterative propagation job gone
         |(measured 2,702 -> 211 ms at sf0.1, FLAT at 10x: 188 ms). With
         |this the entire transitive-dedup surface (cluster, split,
         |audits) runs serve-only against the snapshot tables. Oracle =
         |the in-query twin's recursive reachability CTE, so the stored
         |fixpoint stays correctness-covered.""").stripMargin,
    "q_dedup_minhash_indexed" ->
      ("""Design (r18): the third dedup family on the build/query split
         |(labels r17, spans r18) — the per-doc 8-minhash signature (a
         |shingle pass + 8 fused min-folds, the compute-dense half of
         |q_dedup_minhash) is a corpus property, so the banded signature
         |table (doc_id, band, bk, mh0..mh7) materializes once per
         |snapshot via graft.Prebuilt and serving starts at the band-key
         |self-join + pair-dedup groupBy. The same table is what a
         |production pipeline keeps to admit NEW documents against the
         |corpus (the StreamingStateSpec near-dup gate joins a stream's
         |band keys against exactly this shape). At 100 TB the table is
         |bucketed by bk to co-locate the self-join. Oracle = the full
         |in-query SQL, so the stored signatures stay oracle-covered.""").stripMargin,
    "q_media_phash" ->
      ("""Design (r18, VERDICT r17 next-round #5): image near-dup by
         |perceptual hash — aHash over an 8x8 nearest-neighbor luma grid,
         |all-integer thresholding (lum*64 > total) so the closed-form
         |oracle is exact. The hash is a REAL raster walk over decoded
         |PPM bytes (Multimodal.aHashPpm via the shared ppmHeader parse);
         |the plant is a REAL 2x nearest-neighbor upscale re-encode whose
         |every byte differs but whose hash provably matches (the
         |floor(floor(2a)/2) = floor(a) sampling identity — the oracle
         |replays the full twin chain independently instead of assuming
         |it). Plan: generate -> hash is a narrow per-row batch map (zero
         |shuffles, the decode family's shape), then the q_dedup_exact
         |hash-groupBy on the signature. Linear at 100 TB: swap the
         |generator for a parquet binary-column scan, plan unchanged;
         |refusal rows (audio, truncated, compressed) drop in the map,
         |never fake a signature.""").stripMargin,
    "q_media_phash_pairs" ->
      ("""Design (r18): Hamming-banded image near-dup pairs — the LSH
         |band idiom applied to the 64-bit aHash: four 16-bit bands, any
         |pair within Hamming 3 agrees on >=1 band (pigeonhole — exact
         |recall at the threshold), rescore = per-band XOR+popcount, all
         |integer. Two quadratic guards, both the q_dedup_ngram df-cutoff
         |idiom: a 12-pixel floor (an 8x8 grid oversamples a 2x1 raster
         |into a near-constant signature) and a band-bucket occupancy
         |cutoff of 20 (a hot bucket is an exact-duplicate flood the
         |cluster form already reports as ONE row; pairing inside it is
         |occ^2 for no information — measured 112,811 -> 2,097 pairs at
         |sf0.1). On the periodic synthetic rasters the bucket space
         |saturates at scale and candidates correctly degenerate toward
         |zero rather than quadratic work; real image corpora have
         |diverse hashes and the cutoff grows with log of corpus size.
         |The occupancy aggregate is one row per bucket — no skew.""").stripMargin,
    "q_dedup_minhash_bucketed" ->
      ("""Design (r19, VERDICT r18 next-round #1): the bucketed serve
         |twin — the signature table is written bucketBy(band, bk) +
         |sortBy through Prebuilt.tableFor (one file per bucket via a
         |pre-write repartition on the same pmod-hash), so the band-key
         |self-join's required distribution is satisfied straight off the
         |scan: ZERO Exchange on the bucketed keys (PlanAuditSpec asserts
         |it with broadcast disabled — the SMJ over co-located buckets is
         |the 100 TB plan, where neither side broadcasts). The plan below
         |shows the only remaining exchange is the pair-dedup groupBy.
         |Measured at sf0.1: 602 ms vs 653 ms for the plain-parquet
         |indexed twin — the win at test scale is small because the
         |exchange is tiny here; at 100 TB it is the corpus-sized shuffle
         |that the bucketed layout deletes on EVERY serve query, paid
         |once at build time. Same oracle as q_dedup_minhash.""").stripMargin,
    "q_dedup_spans_bucketed" ->
      ("""Design (r19): spans AND freq written bucketed by wh (one build,
         |two tables, same bucket count), so the spans-freq serve join
         |reads co-partitioned pre-sorted splits — no Exchange, no Sort
         |on the index side; the only shuffle left is the per-doc stats
         |aggregation. Measured at sf0.1: 408 ms vs 693 ms for the
         |plain-parquet indexed twin. This demonstrates the span-index
         |design note's standing claim ("at 100 TB the tables would be
         |written BUCKETED BY wh") in an actual audited plan. Same oracle
         |as q_dedup_spans.""").stripMargin,
    "q_media_audiofp" ->
      ("""Design (r19, VERDICT r18 next-round #2): audio near-dup — the
         |last multimodal dedup modality. The fingerprint resamples each
         |decoded PCM-16 clip onto a fixed 64-point grid (point t = raw
         |sample floor(t*n/64)) and thresholds each point's integer
         |magnitude against the grid mean (mag*64 > total — all-integer,
         |oracle-exact). GAIN-invariant (scaling cancels from both sides)
         |and invariant under 2x RAW-sample doubling (the same floor
         |identity as the image upscale; channel-BLIND by design — true
         |half-speed for mono, stream-doubled re-encode for
         |multi-channel, scoping in stretchWav2x's doc); the plant is a
         |REAL re-encoded WAV whose every data byte offset differs.
         |Plan: generate -> fingerprint is a narrow batch map (zero
         |shuffles), then the q_dedup_exact hash-groupBy. Linear at
         |100 TB; refusal rows (images, truncated, compressed) drop in
         |the map. The oracle replays the stretch chain independently.""").stripMargin,
    "q_media_audiofp_pairs" ->
      ("""Design (r19): q_media_phash_pairs' plan on audio bytes — four
         |16-bit Hamming bands over the 64-bit fingerprint, pigeonhole-
         |exact recall at distance <= 3, per-band XOR+popcount rescore,
         |with the same two quadratic guards (8-sample information floor;
         |occupancy-20 hot-bucket cutoff, HARDCODED — the phash knob
         |needed a gate guard, ADVICE r18 #1, so the audio twin exposes
         |no knob to desync). Streaming admission rides the same
         |fingerprint as a stream-static join (StreamingStateSpec, both
         |MemoryStream and engine-level).""").stripMargin,
    "q_vocab_train" ->
      ("""Design (r19, VERDICT r18 next-round #4): BPE vocabulary
         |training. The corpus-proportional stage is the distributed word
         |count (one exchange); the 56-round merge loop runs on the
         |word-TYPE table — vocabulary-sized by Heaps' law and capped at
         |the top 65,536 types by (freq, word), so the driver-side input
         |is bounded by declaration (the production-trainer architecture;
         |the StreamingIngest pinned-collect discipline). Merge
         |application is a two-pass literal replace on space-delimited
         |symbol strings, measured byte-identical across Spark, DuckDB
         |and the JVM including the boundary-sharing edge cases. The
         |oracle replays all 56 rounds as MATERIALIZED CTEs (un-hinted
         |inlining re-evaluates the chain per reference — measured fd
         |exhaustion at 48 rounds). PipelineSpec-pinned: trained
         |fertility 2.04 vs the constant vocab's 2.40 on the gate corpus.""").stripMargin,
    "q_decontam_clean" ->
      ("""Design (r17): benchmark decontamination, REMOVAL form — the
         |operation labs run before training, where q_decontam only
         |FLAGS. Every training doc loses each 8-token window whose hash
         |occurs in the pinned benchmark sample, then reassembles via
         |the shared spanRemoval cut (array_except, O(tokens+coverage)
         |per row). The benchmark span set is tiny and broadcast; the
         |training side is one spanKeys projection + an 8-byte-hash
         |equi-join. Catches SHIFTED benchmark passages the 5-token
         |prefix substring probe needs alignment luck for, and keeps the
         |uncontaminated remainder instead of dropping whole docs.
         |Contamination is PLANTED (the q_pii_scrub pattern) so the
         |removal path demonstrably fires at every SF.""").stripMargin,
    "q_mixture_budget" ->
      ("""Design (r17): the token-weighted mixture recipe — per source,
         |docs and SUBWORDS kept by the mix rule plus each source's
         |share of the final token budget (mixtures are specified in
         |tokens; doc counts can't see a long-document source eating
         |budget). One narrow graft_subwords map over the pruned scan,
         |one source-keyed exchange of 4-long partials, and a single-
         |partition window over the ~|sources| aggregate rows for the
         |global total — re-scanning the corpus for a grand total would
         |cost a second full pass.""").stripMargin,
    "q_sample_stratified" ->
      ("""Design (r16): exact per-group quota via rank<=Q, compiled to
         |WindowGroupLimit — each mapper pre-prunes to its local top-Q per
         |language BEFORE the exchange (PlanAuditSpec pins the operator),
         |so the shuffle carries O(groups x Q x mappers) rows and a skewed
         |group at 100 TB ships a bounded slice, not the corpus.""").stripMargin,
    "q_quality_classifier" ->
      ("""Design (r16): feature hashing + sparse dot product + logistic
         |link with NO explode — the per-token fold runs inside
         |`aggregate` over the split array, so the whole classifier is one
         |codegen'd narrow projection over the pruned (doc_id, text) scan;
         |the only exchange is the output sort. Swap the arithmetic
         |pseudo-weights for a broadcast weight-map lookup and the plan is
         |unchanged: scan-bound at 100 TB.""").stripMargin,
    "q_vocab_coverage" ->
      ("""Design (r17, VERDICT r16 next-round #5): per-language tokenizer
         |cost audit — subword count, OOV rate, fertility under a
         |WordPiece-style greedy longest-match segmenter (declaration-
         |time merge vocabulary), plus the mixture rule's kept-count in
         |the same aggregate so the output is the recipe audit mixture
         |designers weight by. The segmenter is the native codegen'd
         |graft_subwords expression — one narrow map stage over the
         |pruned scan, one lang-keyed exchange (its partial aggregate is
         |5 longs per mapper-language); scan-bound at 100 TB. The DuckDB
         |oracle replays the greedy loop as a MAX_WORD-depth fold
         |generated from the SAME vocabulary constant, so segmentation
         |is value-checked, not trusted.""").stripMargin,
    "q_approx_percentile" ->
      ("""Decision (r14): single-pass histogram percentile. r12/r13 ranked a
         |percentile_approx sketch estimate by RE-SCANNING lineitem (two full
         |scans; 388 ms vs the 130 ms r11 incumbent). The fixed-width
         |histogram (floor(price) buckets) is itself a mergeable percentile
         |sketch — value error <= bucket width, rank error <= in-bucket ties —
         |so ONE scan produces map-side-combined (group, bucket) partials
         |bounded by the price domain, and the same partials yield both the
         |estimate (min bucket with cum >= ceil(p*n)) and the rank-contract
         |booleans. cum and cum-c are monotone in bucket order, so
         |min(when(cond, _)) reads each off the minimal qualifying bucket:
         |no join-back, no second window pass beyond the partials. The
         |DuckDB oracle now recomputes the estimates value-exactly (r13's
         |oracle only stated literal TRUE). Measured r14: ~1.2x the cost of
         |a bare parquet scan of lineitem (r13 shape: 3.8x).""").stripMargin,
    "q_dedup_semantic" ->
      ("""Design (r14, single-scan r15): SemDeDup (Abbas et al. 2023) as
         |three jobs — broadcast 16-row codebook + max_by assignment,
         |cluster-key self-equi-join for within-cluster pairs, vec_id-key
         |marker join for the keep verdict. The cluster assignment IS the
         |candidate filter: pair cost is n^2/k, and k is a declaration-time
         |parameter grown with the corpus (SemDeDup ships k=50k on
         |LAION-440M), so the shape stays ~linear at 100 TB with the
         |trained-codebook path (q_similarity_ivf_trained) supplying
         |balanced centroids. r15: drop-marking moved INSIDE the pair-join
         |aggregation (left-outer self-join -> per-vec max over matches),
         |removing r14's third assignment arm (the marker join); the
         |assignment subtree now appears only in the self-join's two arms.
         |An eager cache+count materialization was tried first and the
         |bench band-guard flagged it at 3.4x the prior band (1,068 ms vs
         |253 ms for this shape at sf0.1 — cache job overhead dominates at
         |local scale), so the assignment stays a lazy plan. The
         |BroadcastNestedLoopJoin in this plan is the whitelisted <=16-row
         |codebook broadcast, same as the IVF queries.""").stripMargin,
    "q_similarity_pq" ->
      ("""Design (r14, encode reworked r15): product quantization + ADC
         |(Jegou et al. 2011), the billion-scale ANN memory layout.
         |Encode = ONE map-only projection: the <=16-row codebook collapses
         |to a single broadcast row (collect_list of (cent_id, cent_emb)
         |structs) and graft_pq_encode emits the 8 sub-codes directly —
         |the argmin over INTEGER keys (floor(d*1e6+0.5)*16 + cent_id,
         |cent_id tie-break in the low bits) now runs inside the
         |expression with Spark's exact Round semantics replicated, so
         |hashes match the former crossJoin(x16)+min() aggregation
         |bit-for-bit (GraftExpressionsSpec proves equality) and the
         |corpus-sized encode shuffle is GONE — at 100 TB encode is a pure
         |scan. Search = the probe's 16x8 distance table as one broadcast
         |map row, 8 in-row lookups per candidate, map-only into
         |TakeOrderedAndProject. Iterated shape (identical hashes each
         |step): 8 chained broadcast joins 1.16 s -> one broadcast map row
         |0.82 s -> fused graft_pq_dists 0.65 s -> map-only encode at
         |parity locally (hot-JVM interleaved A/B: 516 vs 531 ms min at
         |sf0.1; the win is the removed O(corpus) shuffle, which local
         |5k-row runs can't surface). At 100 TB the codes table (8 bytes/
         |vector vs 256 for raw float32) is the stored index; re-encode
         |only on codebook retrain. Measured recall@10 = 0.20 vs exact L2
         |on RANDOM vectors with an untrained 16-row codebook (chance
         |0.02) — production recall comes from trained sub-codebooks (the
         |q_similarity_ivf_trained Lloyd machinery applies per-subspace
         |verbatim) and IVF+PQ composition.""").stripMargin)

  /** Canonical form of a plan for fingerprinting (r19, VERDICT r18
    * optional #7): only the [[keep]] structural lines — the contract
    * lines PLANS.md excerpts — with every run-varying token normalized
    * (expression ids, plan ids, Prebuilt sequence-numbered table/temp
    * names, absolute paths). Two runs of the same code over the same
    * corpus produce the same canonical form; a broadcast flipping to
    * SMJ, a lost PushedFilter, or a new Exchange changes it. */
  private[graft] def canonicalPlan(plan: String): String =
    plan.linesIterator
      .filter(l => keep.exists(l.contains)).map(_.stripTrailing)
      .map(_.replaceAll("#\\d+L?", "#"))
      .map(_.replaceAll("plan_id=\\d+", "plan_id="))
      .map(_.replaceAll("graft_([a-z_]+?)_\\d+", "graft_$1_N"))
      // a path is either scheme-anchored (file:/...) or preceded by a
      // non-word delimiter: whitespace / '[' (locations print as
      // "Location [...]"), and — ADVICE r20 #1 — '(', '=' or ',' (a temp
      // path can follow any of them in argument lists). An UNSPACED
      // slash expression ("y#10L/2.0", a yyyy/MM/dd format token) is
      // preceded by a word char and must survive, or the fingerprint
      // over-normalizes and masks real plan changes (ADVICE r19 #1; the
      // earlier guard only covered "/ 2.0")
      .map(_.replaceAll("(file:|(?<=[\\s\\[(=,]))/[A-Za-z0-9_][^\\s\\],]*", "<path>"))
      .mkString("\n")

  private def md5hex8(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** PLANFP.json: one 8-hex fingerprint per declared query over the
    * canonical plan — the cvp idea applied to PLANS rather than times
    * (r19). The file is committed per round, so a plan regression is
    * adjudicable from artifacts alone: an unchanged query whose
    * fingerprint moved is a plan drift to explain, before any bench
    * number moves. Queries whose construction runs jobs (the streaming
    * e2e) are excluded like everywhere else; q_vocab_train's RESULT is a
    * local relation, so its fingerprint pins only that the training
    * stays off the cluster path — the word count's plan is covered by
    * the family's other queries. */
  private def writePlanFingerprints(
      dfFor: String => org.apache.spark.sql.DataFrame, out: String): Unit = {
    val prev: Map[String, String] =
      if (Files.exists(Paths.get(out)))
        """"(q_[a-z0-9_]+)"\s*:\s*"([0-9a-f]+|err)"""".r
          .findAllMatchIn(Files.readString(Paths.get(out)))
          .map(m => m.group(1) -> m.group(2)).toMap
      else Map.empty
    // the streaming e2e has no stable batch plan (constructing it runs
    // the engine) — excluded by design, and the exclusion is recorded IN
    // the artifact so the fingerprint count self-documents for a reader
    // diffing rounds (VERDICT r19 optional #8). The array form never
    // matches the prev-parse regex because that regex requires a
    // q_-prefixed KEY followed by a quoted hex/err VALUE ("q_x": "ab12")
    // — inside the excluded array the name is followed by ']', not by a
    // quoted value — so old and new artifacts diff cleanly (ADVICE r20
    // #2 corrected this rationale).
    val excluded = Seq("q_stream_ingest")
    val fps = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(excluded.contains)
      .map { name =>
        val fp = try {
          val plan = dfFor(name)
            .queryExecution.explainString(ExplainMode.fromString("formatted"))
          md5hex8(canonicalPlan(plan))
        } catch { case _: Throwable => "err" }
        name -> fp
      }
    val changed = fps.collect {
      case (n, fp) if prev.nonEmpty && prev.getOrElse(n, fp) != fp =>
        s"$n ${prev(n)}->$fp"
    }
    Files.writeString(Paths.get(out),
      (s"""  "excluded": [${excluded.map("\"" + _ + "\"").mkString(", ")}]""" +:
        fps.map { case (n, fp) => s"""  "$n": "$fp"""" })
        .mkString("{\n", ",\n", "\n}\n"))
    println(s"[plandump] wrote $out (${fps.size} fingerprints; " +
      (if (prev.isEmpty) "no prior to diff"
       else if (changed.isEmpty) "no drift vs prior"
       else s"DRIFT: ${changed.mkString(", ")}") + ")")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Session.local(8)
    val sb = new StringBuilder
    sb.append("# PLANS - physical-plan audit (generated by graft.PlanDump at sf0.01, local[8])\n\n")
    sb.append("Evidence for the scale claims in README.md: predicate pushdown,\n")
    sb.append("column pruning, broadcast placement, partial aggregation, and the\n")
    sb.append("absence of cross joins on every candidate-generation path.\n")
    // one construction per query, shared by the audit section and the
    // fingerprint map (review r19): constructing q_vocab_train runs its
    // distributed word count + driver merge loop, and every construction
    // re-runs analysis — building each DataFrame once halves the job
    // count at zero behavior change
    val dfCache =
      scala.collection.mutable.HashMap.empty[String, org.apache.spark.sql.DataFrame]
    def dfFor(name: String) =
      dfCache.getOrElseUpdate(name, SparkEntry.queries(name)(spark, sfDir))
    audit.foreach { name =>
      val df = dfFor(name)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val lines = plan.linesIterator
        .filter(l => keep.exists(l.contains)).map(_.stripTrailing)
        .toSeq.distinct
      sb.append(s"\n## $name\n```\n${lines.mkString("\n")}\n```\n")
      notes.get(name).foreach(n => sb.append(s"\n$n\n"))
    }
    // Hand-maintained measurement appendix (scale-rehearsal numbers etc.):
    // kept as a separate fragment so regeneration can't lose it.
    val appendix = Paths.get("tools/plans_appendix.md")
    if (Files.exists(appendix))
      sb.append("\n").append(Files.readString(appendix))
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out (${audit.size} queries)")
    // the committed PLANFP.json is written ONLY by the default
    // (argument-free) per-round invocation: a scratch run with a custom
    // sfDir/outFile must not clobber the round artifact with
    // fingerprints from a different corpus — join strategies are
    // stats-dependent, so sf0.001 fingerprints would print spurious
    // DRIFT for unchanged queries (review r19)
    val fpOut = if (args.isEmpty) "PLANFP.json" else s"$out.planfp.json"
    writePlanFingerprints(dfFor, fpOut)
    spark.stop()
  }
}
