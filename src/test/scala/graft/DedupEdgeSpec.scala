package graft

import graft.queries.Dedup
import org.apache.spark.sql.functions._

/** Edge-input coverage for the dedup family: documents with fewer than 3
  * tokens have no 3-token shingles. Spark's `sequence(1, n)` descends when
  * n < 1 (step defaults to −1), so unguarded shingling crashed with
  * `element_at(th, 0)` on any short document — an input class absent from
  * the driver testdata but guaranteed in any real corpus. */
class DedupEdgeSpec extends SparkSpec {

  private lazy val dir: String = {
    import spark.implicits._
    val d = tmpDir("dedup-edge")
    Seq(
      (1L, ""),                        // empty text → single empty token
      (2L, "one"),                     // 1 token
      (3L, "two words"),               // 2 tokens → still no shingle
      (4L, "a b c d e f g h i j"),     // 10 tokens
      (5L, "a b c d e f g h i j"),     // identical twin of doc 4
      (6L, "k l m n o p q r s t")      // distinct 10-token doc
    ).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("q_dedup_minhash survives 0/1/2-token docs and still pairs the twins") {
    val rows = Dedup.queries("q_dedup_minhash")(spark, dir).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((4L, 5L)),
      "only the identical pair is a candidate; shingle-less docs never bucket")
    assert(rows.head.getDouble(2) === 1.0)
  }

  test("q_dedup_ngram survives short docs and scores the twins at 1.0") {
    val rows = Dedup.queries("q_dedup_ngram")(spark, dir).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((4L, 5L)))
    assert(rows.head.getDouble(2) === 1.0)
  }

  test("q_dedup_simhash emits one row per doc including short ones") {
    val rows = Dedup.queries("q_dedup_simhash")(spark, dir).collect()
    assert(rows.length === 6, "short docs still get a signature")
  }

  test("q_dedup_exact still finds the identical pair") {
    val rows = Dedup.queries("q_dedup_exact")(spark, dir).collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(1) === 2L && rows.head.getLong(2) === 4L)
  }

  test("q_dedup_cluster collapses transitive near-dup groups to one keeper") {
    import spark.implicits._
    val d = tmpDir("dedup-cluster")
    Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),   // dup of 1
      (3L, "a b c d e f g h i j"),   // dup of 1 and 2 — must NOT yield two keepers
      (4L, "k l m n o p q r s t"),
      (5L, "k l m n o p q r s t"),   // dup of 4, different cluster
      (6L, "u v w x y z aa bb cc dd") // unique: no edges, not a cluster member
    ).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$d/documents.parquet")
    val rows = Dedup.queries("q_dedup_cluster")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(rows === Seq((1L, 1L, 1), (2L, 1L, 0), (3L, 1L, 0),
                        (4L, 4L, 1), (5L, 4L, 0)),
      "one keeper per component (min doc_id); singletons are absent")
  }

  test("q_dedup_lines drops >2-doc segments, keeps order, counts docs not rows") {
    import spark.implicits._
    val d = tmpDir("dedup-lines")
    val B = "b1 b2 b3 b4 b5 b6 b7 b8"  // in 3 docs → boilerplate, dropped
    val S = "s1 s2 s3 s4 s5 s6 s7 s8"  // in 2 docs → at the threshold, kept
    val U = "u1 u2 u3 u4 u5 u6 u7 u8"
    val X = "x1 x2 x3 x4 x5 x6 x7 x8"
    val R = "r1 r2 r3 r4 r5 r6 r7 r8"
    Seq(
      (1L, s"$B $S $U"),     // reassembly must keep S before U
      (2L, s"$S $B"),
      (3L, B),               // every segment dropped → empty text_clean
      (4L, s"$X t1 t2 t3"),  // short tail is its own (unique) segment
      (5L, s"$R $R $R")      // 3 occurrences in ONE doc: ndocs=1, all kept
                             // (row-counting would see 3 > 2 and drop R)
    ).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$d/documents.parquet")
    val rows = Dedup.queries("q_dedup_lines")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(rows === Seq(
      (1L, 3L, 2L, s"$S $U"),
      (2L, 2L, 1L, S),
      (3L, 1L, 0L, ""),
      (4L, 2L, 2L, s"$X t1 t2 t3"),
      (5L, 3L, 3L, s"$R $R $R")))
  }

  test("q_dedup_spans flags a SHIFTED passage fixed segmentation misses") {
    import spark.implicits._
    val d = tmpDir("dedup-spans")
    // doc 1 carries tokens t1..t20; doc 2 embeds t1..t12 at offset 3 —
    // the shift is not ≡ 0 mod 8, so q_dedup_lines' fixed 8-token
    // segments of doc 2 (p1..p3+t1..t5 | t6..t13 | …) never equal doc
    // 1's (t1..t8 | t9..t16 | …): the overlapping-window design claim
    // is exactly this case. A 12-token shared passage has 12−8+1 = 5
    // fully-contained 8-token windows in EACH doc.
    val passage = (1 to 12).map(i => s"t$i").mkString(" ")
    Seq(
      (1L, (1 to 20).map(i => s"t$i").mkString(" ")),
      (2L, s"p1 p2 p3 $passage q1 q2 q3 q4 q5"),
      (3L, "short doc under eight"),                // < 8 tokens: no window
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"),
      (5L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")        // identical twin of 4
    ).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$d/documents.parquet")
    val rows = Dedup.queries("q_dedup_spans")(spark, d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(!rows.contains(3L), "sub-window docs emit no rows")
    // doc 1: 13 windows, 5 duplicated (the passage), one contiguous run
    assert(rows(1L) === ((13L, 5L, 0.3846, 5L)))
    // doc 2: 20 tokens → 13 windows, same 5-window dup run
    assert(rows(2L) === ((13L, 5L, 0.3846, 5L)))
    // identical twins: every window duplicated, max_run = n_windows
    assert(rows(4L) === ((3L, 3L, 1.0, 3L)) && rows(5L) === rows(4L))
    // contrast claim: q_dedup_lines on the same corpus sees NO shared
    // segment between docs 1 and 2 (its threshold is >2 docs anyway,
    // but even the segment frequencies never collide across the shift)
    val lines = Dedup.queries("q_dedup_lines")(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(lines(1L)._1 === lines(1L)._2 && lines(2L)._1 === lines(2L)._2,
      "fixed segmentation keeps every segment — the shifted passage is invisible to it")
  }

  test("q_split_leakfree: clusters stay whole; per-doc hashing would leak") {
    val rows = SparkEntry.queries("q_split_leakfree")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val total = Tables.documents(spark, sf0001).count()
    assert(rows.length.toLong === total, "every doc assigned exactly once")
    // the defining property: all members of a cluster share the split
    val byRep = rows.groupBy(_._2).view.mapValues(_.map(_._3).distinct).toMap
    byRep.foreach { case (rep, splits) =>
      assert(splits.size === 1, s"cluster rep=$rep straddles splits: $splits")
    }
    // split sizes near 80/10/10 (wide tolerance, 500 docs)
    val frac = rows.groupBy(_._3).view.mapValues(_.size.toDouble / rows.length).toMap
    assert(frac("train") > 0.7 && frac("train") < 0.9, frac.toString)
    assert(frac.getOrElse("val", 0.0) < 0.2 && frac.getOrElse("test", 0.0) < 0.2)
    // CONTRAST (why rep-hashing matters): at least one multi-doc cluster
    // exists whose members' INDEPENDENT per-doc buckets would disagree —
    // per-doc hashing would put near-duplicates on both sides
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(v: Long): Long = {
      val h = md.digest(s"split#$v".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(7)
      java.lang.Long.parseLong(h, 16) % 100
    }
    def splitOf(b: Long) = if (b < 80) "train" else if (b < 90) "val" else "test"
    val leaky = rows.groupBy(_._2).values.exists { members =>
      members.size > 1 &&
        members.map(m => splitOf(bucket(m._1))).distinct.size > 1
    }
    assert(leaky, "fixture regime: some cluster must demonstrate the leak " +
      "per-doc hashing would cause (else the test is vacuous)")
  }

  test("q_split_contam_audit catches cross-cluster span sharing the split cannot prevent") {
    import spark.implicits._
    // Two docs share an 8-token passage inside otherwise-disjoint ~40-token
    // bodies: Jaccard far below the 0.75 near-dup threshold, so they sit in
    // DIFFERENT clusters and rep-hashing cannot co-locate them — exactly
    // the residual leak class the audit exists to surface. Pick doc ids
    // whose split buckets land on opposite sides of the train/test line.
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(v: Long): Long = {
      val h = md.digest(s"split#$v".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(7)
      java.lang.Long.parseLong(h, 16) % 100
    }
    def splitOf(b: Long) = if (b < 80) "train" else if (b < 90) "val" else "test"
    val trainId = (1L to 500L).find(id => splitOf(bucket(id)) == "train").get
    val testId = (1L to 500L).find(id => splitOf(bucket(id)) == "test").get
    val passage = (1 to 8).map(i => s"s$i").mkString(" ")
    val d = tmpDir("contam-audit")
    (Seq(
      (trainId, s"$passage " + (1 to 40).map(i => s"a$i").mkString(" ")),
      (testId, s"$passage " + (1 to 40).map(i => s"b$i").mkString(" "))) ++
      // uncontaminated background docs with doc-unique vocabularies
      (1L to 6L).map(i => (1000L + i, (1 to 15).map(j => s"o${i}x$j").mkString(" "))))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$d/documents.parquet")
    // precondition check: the planted pair really is cross-cluster
    // (each doc is its own rep) and straddles train/test
    val sp = Dedup.queries("q_split_leakfree")(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(sp(trainId) === ((trainId, "train")) && sp(testId) === ((testId, "test")),
      "fixture regime: the planted pair must be singleton clusters on opposite splits")
    val rows = Dedup.queries("q_split_contam_audit")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Seq(testId),
      "exactly the contaminated test doc is reported")
    val (_, nWh, nShared, frac) = rows.head
    assert(nShared === 1L, "exactly the one pure-passage window is shared")
    assert(nWh === 41L && frac === math.floor(1.0 / 41 * 10000 + 0.5) / 10000,
      "window accounting: 48 tokens -> 41 windows, frac = 1/41 r4")
  }

  test("prebuilt label table: indexed split and audit equal the in-query twins") {
    // the serve-only queries read the once-built label table; their
    // results must be row-identical to the in-query propagation's
    def rows(q: String) = SparkEntry.queries(q)(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(rows("q_split_leakfree_indexed") === rows("q_split_leakfree"))
    assert(rows("q_split_contam_audit_indexed") === rows("q_split_contam_audit"))
    // and the memo actually hits: a second call returns the same dir
    val d1 = Dedup.splitLabelDir(spark, sf0001)
    assert(Dedup.splitLabelDir(spark, sf0001) === d1)
  }

  test("prebuilt span index: indexed spans stats and fully-indexed audit equal in-query twins") {
    // r18 (VERDICT r17 next-round #1): the (doc_id, p, wh) window-hash
    // index materializes once per corpus snapshot; the serve twins must
    // be row-identical to the per-query recompute
    def rows(q: String) = SparkEntry.queries(q)(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(rows("q_dedup_spans_indexed") === rows("q_dedup_spans"))
    assert(rows("q_dedup_spans_clean_indexed") === rows("q_dedup_spans_clean"))
    assert(rows("q_split_contam_audit_spanindexed") === rows("q_split_contam_audit"))
    // memo hit + the shared Prebuilt keying: same corpus → same dir,
    // distinct prefix from the label table's
    val s1 = Dedup.spanIndexDir(spark, sf0001)
    assert(Dedup.spanIndexDir(spark, sf0001) === s1)
    assert(s1 !== Dedup.splitLabelDir(spark, sf0001))
  }

  test("prebuilt minhash signature table: indexed pair scoring equals the in-query twin") {
    // the third dedup family on the build/query split (r18): the banded
    // signature table materializes once; the serve twin's candidate
    // pairs and estimated Jaccard must be row-identical
    def rows(q: String) = SparkEntry.queries(q)(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(rows("q_dedup_minhash_indexed") === rows("q_dedup_minhash"))
    assert(rows("q_dedup_cluster_indexed") === rows("q_dedup_cluster"))
    val m1 = Dedup.minhashIndexDir(spark, sf0001)
    assert(Dedup.minhashIndexDir(spark, sf0001) === m1, "memo hits")
  }

  test("q_decontam_clean cuts exactly the planted benchmark span; bench docs excluded") {
    import spark.implicits._
    val d = tmpDir("decontam-clean")
    Seq(
      (0L, "orig zero words here and more of them now"),   // bench (0 % 97 == 0)
      (3L, "three body tokens distinct from zero entirely kept"), // planted train (3 % 89 == 3)
      (5L, "five body tokens unrelated to any benchmark document here")) // clean train
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$d/documents.parquet")
    val rows = Dedup.queries("q_decontam_clean")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.map(_._1).toSeq === Seq(3L, 5L),
      "bench doc 0 is the eval artifact, not output")
    val (_, n3, rem3, clean3) = rows(0)
    // doc 3 carries the planted 8-token preamble; only the pure-preamble
    // window matches bench (continuations differ), so EXACTLY those 8
    // planted tokens go and the original body survives verbatim
    assert(rem3 === 8L && n3 === 8L + 8L)
    assert(clean3 === "three body tokens distinct from zero entirely kept")
    val (_, _, rem5, clean5) = rows(1)
    assert(rem5 === 0L && clean5 ===
      "five body tokens unrelated to any benchmark document here",
      "uncontaminated docs pass through untouched")
  }

  test("q_dedup_spans_clean cuts exactly the shared passage, keeper stays intact") {
    import spark.implicits._
    val d = tmpDir("dedup-spans-clean")
    val passage = (1 to 12).map(i => s"t$i").mkString(" ")
    Seq(
      (1L, (1 to 20).map(i => s"t$i").mkString(" ")),   // keeper of the passage
      (2L, s"p1 p2 p3 $passage q1 q2 q3 q4 q5"),        // loses exactly t1..t12
      (3L, "short doc under eight"),                    // no window → intact
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"),           // keeper twin → intact
      (5L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")            // copy → emptied
    ).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$d/documents.parquet")
    val rows = Dedup.queries("q_dedup_spans_clean")(spark, d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(rows(1L) === ((20L, 0L, (1 to 20).map(i => s"t$i").mkString(" "))),
      "the first occurrence of every span survives")
    assert(rows(2L) === ((20L, 12L, "p1 p2 p3 q1 q2 q3 q4 q5")),
      "coverage of the 5 duplicated windows is exactly the 12-token passage")
    assert(rows(3L) === ((4L, 0L, "short doc under eight")))
    assert(rows(4L) === ((10L, 0L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")))
    assert(rows(5L) === ((10L, 10L, "")), "an exact copy empties completely")
  }

  test("q_dedup_spans: runs split across gaps; max_run is the longest island") {
    import spark.implicits._
    val d = tmpDir("dedup-spans-gap")
    // doc 2 shares TWO disjoint 8-token passages of doc 1 (1 window each),
    // separated by unique middles — n_dup = 2 but max_run = 1
    val a = (1 to 8).map(i => s"a$i").mkString(" ")
    val b = (1 to 8).map(i => s"b$i").mkString(" ")
    Seq(
      (1L, s"$a m1 m2 m3 m4 m5 m6 m7 $b"),
      (2L, s"$a n1 n2 n3 n4 n5 n6 n7 $b")
    ).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$d/documents.parquet")
    val rows = Dedup.queries("q_dedup_spans")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    assert(rows(1L) === ((2L, 1L)) && rows(2L) === ((2L, 1L)),
      "two isolated duplicated windows must not merge into one run")
  }

  test("embcos knobs: wider buckets cut candidates ~2^Δbits, banding buys recall back") {
    // r14 rehearsal follow-up: q_dedup_embcos's fixed 256-bucket space
    // made within-bucket pairs grow n²/256 (exponent 0.67 at 10×). The
    // knobs must actually deliver the trade they document.
    val sf = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    def candidates(bits: Int, bands: Int): Long =
      Dedup.embcosPairs(emb, bits, bands).count()
    val c8 = candidates(8, 1)
    val c12 = candidates(12, 1)
    info(f"candidate pairs at n=$n: bits=8 -> $c8, bits=12 -> $c12 " +
         f"(cut ${c8.toDouble / math.max(c12, 1)}%.1fx; random-sign theory: 16x)")
    // +4 bits must cut occupancy hard; 4x floor is far below the ~16x
    // expectation yet far above noise
    assert(c12.toDouble * 4 <= c8,
      s"widening 8->12 bits only cut candidates $c8 -> $c12")
    // the DECLARED query (conf defaults) must equal the 8/1 helper path
    // end to end — this is the conf-wiring check, not a helper self-
    // compare (review r15: the previous form compared the helper to
    // itself)
    val declared = SparkEntry.queries("q_dedup_embcos")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val helperDefault = Dedup.embcosPairs(emb, 8, 1)
      .filter(col("cos_sim") >= 0.35).orderBy("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(declared === helperDefault,
      "q_dedup_embcos with default confs must equal embcosPairs(8, 1)")
    // recall vs the exact all-pairs truth at the query's threshold
    // (test-only cross join — what the operator exists to avoid at scale)
    val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val truth = a.crossJoin(b).filter(col("va") < col("vb"))
      .select(col("va"), col("vb"),
              round(graft.operators.VectorOps.cosine(col("ea"), col("eb")), 4)
                .as("cs"))
      .filter(col("cs") >= 0.35)
      .select(concat_ws("|", col("va"), col("vb"))).collect()
      .map(_.getString(0)).toSet
    assert(truth.nonEmpty, "sf0.01 lost its >=0.35 cosine pairs")
    def recall(bits: Int, bands: Int): Double = {
      val got = Dedup.embcosPairs(emb, bits, bands)
        .filter(col("cos_sim") >= 0.35)
        .select(concat_ws("|", col("vec_a"), col("vec_b"))).collect()
        .map(_.getString(0)).toSet
      (got & truth).size.toDouble / truth.size
    }
    val r12x1 = recall(12, 1); val r12x4 = recall(12, 4)
    info(f"recall at >=0.35: bits=12 bands=1 -> $r12x1%.2f, " +
         f"bits=12 bands=4 -> $r12x4%.2f (bits=8 bands=1 -> ${recall(8, 1)}%.2f)")
    // banding is a candidate-set UNION over disjoint sign slices — recall
    // is monotone in bands by construction; assert the measured gain too
    assert(r12x4 >= r12x1,
      f"banding reduced recall: $r12x1%.2f -> $r12x4%.2f")
    // Occupancy of the banded configuration, for the record. On RANDOM
    // vectors banding cannot fully recover the 8-bit default's recall
    // (no sign-correlation structure to exploit — measured 0.01 vs 0.03
    // here); the monotone-in-bands assertion above is the contract that
    // holds on any data, and on real near-dup corpora (high pairwise
    // cos ⇒ most signs agree per slice) each band's collision
    // probability approaches 1 for true pairs.
    val c12x4 = candidates(12, 4)
    info(f"banded candidates: bits=12 bands=4 -> $c12x4 (vs bits=8 $c8)")
  }

  test("q_dedup_semantic drops the centroid-near member of each dup pair") {
    import spark.implicits._
    val d = tmpDir("dedup-semantic")
    def oneHot(i: Int, v: Float = 1f): Array[Float] = {
      val a = Array.fill(64)(0f); a(i) = v; a
    }
    val vecs: Seq[(Long, Array[Float], Int)] =
      // vec 0..15 = one-hot basis → each is its own cluster's centroid
      (0 until 16).map(i => (i.toLong, oneHot(i), 0)) ++ Seq(
        // near-dup of centroid 4 (cos ≈ 0.994 ≥ τ): it sits FARTHER from
        // the centroid than vec 4 itself (cos_cent 0.994 < 1.0), so
        // SemDeDup's keep-the-outlier rule keeps 16 and drops 4
        (16L, { val a = oneHot(4, 0.9f); a(5) = 0.1f; a }, 0),
        // equidistant from centroids 7 and 8 (cos 0.7071): assignment
        // tie-break (cent_id ASC) puts it in cluster 7; pair (7, 17)
        // crosses τ and 17 is the outlier → 7 dropped
        (17L, { val a = oneHot(7, 0.5f); a(8) = 0.5f; a }, 0),
        // orthogonal to every centroid (all cos 0, tie → cluster 0);
        // no pair ≥ τ → kept
        (18L, oneHot(20), 0),
        // anti-parallel to centroid 0 → best cos is 0 at cent_id 1;
        // its only cluster-mate e1 scores cos 0 → kept
        (19L, oneHot(0, -1f), 0))
    vecs.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.parquet(s"$d/embeddings.parquet")
    val rows = Dedup.queries("q_dedup_semantic")(spark, d).collect()
    assert(rows.length === 20, "one verdict row per input vector")
    val byId = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getInt(3))).toMap
    assert(byId.filter(_._2._2 == 0).keySet === Set(4L, 7L),
      "exactly the centroid-near members of the two dup pairs are dropped")
    assert(byId(16L)._1 === 4L && byId(17L)._1 === 7L)
    assert(byId(18L)._1 === 0L, "all-zero-cos tie assigns to cent_id 0")
    assert(byId(19L)._1 === 1L, "anti-parallel vec avoids its own centroid")
  }

  test("q_dedup_semantic matches a driver-side recomputation on sf0.001") {
    // independent reimplementation of assign + drop over collected rows,
    // with the query's exact rounding (HALF_UP, as Spark round() does)
    def r(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / math.sqrt(na * nb)
    }
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(row => row.getLong(0) -> row.getSeq[Float](1).toArray).toMap
    val cents = emb.filter(_._1 <= 15)
    val assigned = emb.map { case (id, v) =>
      val (cid, cc) = cents.toSeq
        .map { case (c, cv) => (c, r(cos(v, cv), 6)) }
        .minBy { case (c, s) => (-s, c) }
      id -> ((cid, cc))
    }
    val expectDropped = assigned.keySet.filter { id =>
      val (cl, cc) = assigned(id)
      assigned.exists { case (o, (ocl, occ)) =>
        o != id && ocl == cl &&
          r(cos(emb(id), emb(o)), 4) >= 0.35 &&
          (occ < cc || (occ == cc && o < id))
      }
    }
    val rows = Dedup.queries("q_dedup_semantic")(spark, sf0001).collect()
    assert(rows.length === emb.size)
    rows.foreach { row =>
      val id = row.getLong(0)
      assert(row.getLong(1) === assigned(id)._1, s"cluster of vec $id")
      assert(row.getDouble(2) === assigned(id)._2, s"cos_cent of vec $id")
      assert((row.getInt(3) == 0) === expectDropped(id), s"is_kept of vec $id")
    }
    assert(expectDropped.nonEmpty,
      "fixture regime: τ=0.35 must produce at least one drop at sf0.001")
  }

  test("embcos defaults resolve by corpus size; explicit confs always win") {
    import graft.queries.Dedup
    // the spec-pinned rule (r16, VERDICT r15 #8): r14-identical (8,1) up
    // to 10k vectors, the measured scale config (12,4) above — any change
    // to the breakpoint or configs must retune the oracle's count guard
    assert(Dedup.embcosDefaults(1L) === ((8, 1)))
    assert(Dedup.embcosDefaults(10000L) === ((8, 1)))
    assert(Dedup.embcosDefaults(10001L) === ((12, 4)))
    assert(Dedup.embcosDefaults(50000L) === ((12, 4)))
    // integration: at sf0.001 (small branch) the conf-free declared query
    // equals the explicit (8,1) configuration row for row
    val free = SparkEntry.queries("q_dedup_embcos")(spark, sf0001).collect()
    spark.conf.set("graft.dedup.embcos.bits", "8")
    spark.conf.set("graft.dedup.embcos.bands", "1")
    try {
      val pinned = SparkEntry.queries("q_dedup_embcos")(spark, sf0001).collect()
      assert(free.toSeq === pinned.toSeq)
    } finally {
      spark.conf.unset("graft.dedup.embcos.bits")
      spark.conf.unset("graft.dedup.embcos.bands")
    }
  }

  test("graft_shingles of NULL text is an empty array, not null") {
    import spark.implicits._
    // parity with the when/otherwise + transform chain it replaced: a
    // caller filtering size(shs) >= 0 must not see null-doc rows vanish
    val rows = Seq(Some("a b c d"), None).toDF("text")
      .selectExpr("graft_shingles(text) AS shs")
      .collect()
    assert(rows(0).getSeq[Long](0).length === 2)
    assert(!rows(1).isNullAt(0) && rows(1).getSeq[Long](0).isEmpty)
  }

  test("Prebuilt.tableFor: an out-of-band drop of ANY registered table triggers rebuild (ADVICE r19 #4)") {
    import spark.implicits._
    // The span index registers a companion '<name>_freq' beside the
    // primary; before the r20 fix the staleness check verified only the
    // primary, so dropping just the companion left an unrecoverable
    // table-not-found until JVM restart. Exercise tableFor directly with
    // a synthetic two-table build: memo hit while both exist, rebuild
    // (fresh sequence-numbered name) when either is dropped out-of-band.
    val dir = tmpDir("prebuilt-companion")
    Seq((1L, "a b c")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    var builds = 0
    def build(): String =
      graft.Prebuilt.tableFor(spark, dir, "documents", "companiontest",
        extraSuffixes = Seq("_extra")) { (d, name) =>
        builds += 1
        Seq((1L, 2L)).toDF("k", "v")
          .write.option("path", s"$d/main").saveAsTable(name)
        Seq((1L, 3L)).toDF("k", "n")
          .write.option("path", s"$d/extra").saveAsTable(name + "_extra")
      }
    val n1 = build()
    assert(builds === 1 && spark.catalog.tableExists(n1) &&
      spark.catalog.tableExists(n1 + "_extra"))
    assert(build() === n1 && builds === 1, "memo hit must not rebuild")
    spark.sql(s"DROP TABLE ${n1}_extra")
    val n2 = build()
    assert(builds === 2 && n2 != n1,
      "dropping only the COMPANION must trigger a full rebuild")
    assert(spark.catalog.tableExists(n2) &&
      spark.catalog.tableExists(n2 + "_extra"))
    spark.sql(s"DROP TABLE $n2")
    val n3 = build()
    assert(builds === 3 && n3 != n2,
      "dropping the primary still rebuilds (pre-existing self-heal)")
    assert(spark.catalog.tableExists(n3 + "_extra"))
  }

  test("Prebuilt build cleanup: a fatal DROP error carries the build failure as suppressed") {
    val buildErr = new IllegalStateException("build failed")
    val dropped = scala.collection.mutable.ArrayBuffer[String]()
    val thrown = intercept[InterruptedException] {
      graft.Prebuilt.dropAfterFailedBuild(Seq("t", "t_extra"), buildErr) { t =>
        dropped += t
        throw new InterruptedException(s"interrupted dropping $t")
      }
    }
    assert(dropped.toSeq === Seq("t"), "a fatal error stops the cleanup at once")
    assert(thrown.getSuppressed.toSeq === Seq(buildErr),
      "the original build exception must ride along as suppressed")
    // a non-fatal cleanup failure is swallowed and the build error rethrown
    val rethrown = intercept[IllegalStateException] {
      graft.Prebuilt.dropAfterFailedBuild(Seq("t"), buildErr)(_ =>
        throw new RuntimeException("drop failed"))
    }
    assert(rethrown eq buildErr)
  }
}
