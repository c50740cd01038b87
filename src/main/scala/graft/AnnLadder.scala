package graft

/** Measured ANN recall/latency ladder (README "Design for scale" §ANN):
  * per-rung wall-clock and recall@10 against the exact scan, on the SF
  * dir in arg 0 (default sf0.1). Methodology mirrors Bench: min of 3
  * runs, cache cleared between runs, one warmup pass first. The prebuilt
  * index (annIndexDir) is built BEFORE any timing, so the `_indexed`
  * rungs report query-only serve latency — the figure a production index
  * publishes; the in-query-training rungs deliberately include their
  * training cost (their declared scope is train + search).
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.AnnLadder [sfDir]"
  * Output: one markdown table row per rung (paste into README).
  */
object AnnLadder {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.local()

    // rung → README description (order = the ladder, cheap-to-exact)
    val rungs = Seq(
      "q_similarity_topk" -> "exact scan (ground truth)",
      "q_similarity_lsh" -> "LSH: 8-bit sign bucket, 1 probe",
      "q_similarity_lsh_multi" -> "LSH: multi-probe (Hamming-1)",
      "q_similarity_ivf" -> "IVF nprobe=1, fixed coarse quantizer",
      "q_similarity_ivf_trained" -> "IVF nprobe=1, in-query Lloyd training",
      "q_similarity_ivf_nprobe" -> "IVF nprobe=3, in-query Lloyd training",
      "q_similarity_ivf_indexed" -> "IVF nprobe=3, prebuilt index (query-only)",
      "q_similarity_pq" -> "PQ ADC, full corpus",
      "q_similarity_ivfpq" -> "IVF-PQ nprobe=1",
      "q_similarity_ivfpq_nprobe" -> "IVF-PQ nprobe=3",
      "q_similarity_ivfpq_indexed" -> "IVF-PQ nprobe=3, prebuilt index (query-only)",
      "q_similarity_ivfpq_res" -> "IVF-PQ residual encoding",
      "q_similarity_ivfpq_rtrained" -> "IVF-PQ trained residual sub-codebook",
      "q_similarity_ivfpq_rindexed" -> "IVF-PQ trained residual, prebuilt index (query-only)")

    // ground truth + index build, both OUTSIDE every timed region
    val exact = SparkEntry.queries("q_similarity_topk")(spark, sfDir)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    graft.queries.Similarity.annIndexDir(spark, sfDir)

    println(s"| rung | latency (min of 3) | recall@10 |")
    println(s"|---|---|---|")
    rungs.foreach { case (key, desc) =>
      def once(): (Long, Set[Long]) = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(key)(spark, sfDir).collect()
        ((System.nanoTime() - t0) / 1000000L,
         rows.map(_.getAs[Long]("vec_id")).toSet)
      }
      once() // warmup
      val samples = (1 to 3).map(_ => once())
      val ms = samples.map(_._1).min
      val ids = samples.head._2
      val recall = (ids & exact).size / math.max(1, exact.size).toDouble
      println(f"| $desc | $ms ms | $recall%.2f |")
      System.gc(); Thread.sleep(250)
    }
    spark.stop()
  }
}
