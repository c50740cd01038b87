package graft

import org.scalatest.funsuite.AnyFunSuite

/** Synthetic-load tests of the band guard and the drift ratios, and
  * of the prior they read. BENCH_r14 once recorded q_text_quality at
  * 1,340 ms (true time 182 ms) because EVERY sample in the measurement
  * window was inflated together — min-of-3 cannot help when the
  * contamination is sustained. The guard compares against the committed
  * prior, the one reference ambient load can't touch. No Spark session
  * needed: the guard is pure decision logic over (measured min, prior ms).
  */
class BenchGuardSpec extends AnyFunSuite {

  test("the prior reader takes only int-ms pairs") {
    // a saved Bench log: the total line's fractional seconds, the
    // iter_spread_ms arrays and band_suspects must not leak in as priors;
    // the queries_ms_plain line is the whole prior
    val log = Seq(
      """[info] {"metric":"total","value":27.85,"unit":"sec","queries":{"q_topk":0.080123,"q_scan_parquet":0.0529,"q_stale":1.5},"errors":{},"sf":"/data/sf0.1"}""",
      """[info] {"metric":"iter_spread_ms","queries":{"q_topk":[80,95],"q_scan_parquet":[52,60],"q_stale":[1500,1510]}}""",
      """[info] {"metric":"band_suspects","queries":{"q_stale":{"ms":1500,"prior_ms":95}}}""",
      """[info] {"metric":"queries_ms_plain","ms":{"q_topk":80,"q_scan_parquet":52,"q_text_quality":1340},"n":3}""",
      """[info] {"metric":"summary","t_s":27.850,"n_q":3,"n_err":0,"n_su":1,"n_pr":3}""")
      .mkString("\n")
    assert(BenchGuards.parsePriorQueriesMs(log) === Map(
      "q_topk" -> 80L, "q_scan_parquet" -> 52L, "q_text_quality" -> 1340L))
  }

  test("the committed BENCH_PRIOR.json has one entry > 0 for every SparkEntry.queries key") {
    val prior = BenchGuards.parsePriorQueriesMs(
      java.nio.file.Files.readString(java.nio.file.Paths.get("BENCH_PRIOR.json")))
    assert(prior.keySet === SparkEntry.queries.keySet)
    assert(prior.values.forall(_ > 0), prior.filter(_._2 <= 0))
  }

  test("famCvp localizes drift to families with enough common queries") {
    val prior = (1 to 8).map(i => s"q_dedup_x$i" -> 100L).toMap ++
      (1 to 8).map(i => s"q_join_y$i" -> 200L).toMap ++
      Map("q_topk" -> 50L, "q_dedup_zero" -> 0L)
    val cur = prior.map { case (k, v) => k -> (if (k.startsWith("q_dedup")) v * 3 / 2 else v) }
    val fams = BenchGuards.famCvp(cur, prior, minN = 6)
    assert(fams.map(_._1) === Seq("dedup", "join"), "small families and 0-priors excluded")
    val byFam = fams.map(f => f._1 -> f._2).toMap
    assert(math.abs(byFam("dedup") - 1.5) < 1e-9)
    assert(math.abs(byFam("join") - 1.0) < 1e-9)
    assert(fams.find(_._1 == "dedup").get._3 === 8, "0-ms prior key excluded from count")
  }

  test("commonVsPrior: broad sub-3x drift is visible; disjoint or zero priors are not") {
    // the r16 incident shape: every common query ~15% slow, none 3x out
    val prior = Map("q_a" -> 100L, "q_b" -> 1000L, "q_gone" -> 50L, "q_zero" -> 0L)
    val cur = Map("q_a" -> 115L, "q_b" -> 1150L, "q_new" -> 999L, "q_zero" -> 70L)
    val Some((ratio, n)) = BenchGuards.commonVsPrior(cur, prior)
    assert(n === 2, "only keys in BOTH rounds with a usable prior count")
    assert(math.abs(ratio - 1.15) < 1e-9)
    // new-this-round and retired queries never skew the ratio;
    // a 0-ms prior (truncation corruption) is excluded like the band guard
    assert(BenchGuards.commonVsPrior(Map("q_x" -> 5L), Map("q_y" -> 5L)).isEmpty)
    assert(BenchGuards.commonVsPrior(Map.empty, prior).isEmpty)
  }

  test("outOfBand: sustained contamination flagged, clean runs and noise not") {
    import BenchGuards.outOfBand
    // the r14 incident: prior 95 ms, every sample in the window ~1.3 s
    assert(outOfBand(minSec = 1.34, priorMs = 95),
      "13x-inflated sustained window must be out of band")
    // in-band rerun of the same query
    assert(!outOfBand(minSec = 0.182, priorMs = 95))
    // 3x boundary: just under stays in band
    assert(!outOfBand(minSec = 0.284, priorMs = 95))
    // absolute floor: a 5x blowup of a 50 ms query is scheduler noise
    // territory, not worth retry churn (250 ms absolute floor)
    assert(!outOfBand(minSec = 0.25, priorMs = 50))
    // ...but a genuinely heavy query 3x out IS flagged
    assert(outOfBand(minSec = 7.2, priorMs = 1800),
      "the r10 q_dedup_ngram shape (7.2 s vs 1.8 s band) must be flagged")
  }

  test("simulated bench window: only the sustained-inflation query is flagged") {
    // replicate Bench's decision flow over synthetic sample windows
    val prior = Map("q_a" -> 100L, "q_b" -> 1800L, "q_new" -> 0L)
    def flagged(name: String, samples: Seq[Double],
                retrySamples: Seq[Double]): Boolean =
      prior.get(name).filter(_ > 0).exists { p =>
        var times = samples
        var extra = 0
        while (extra < 2 && BenchGuards.outOfBand(times.min, p)) {
          times = times ++ Seq(retrySamples(extra)); extra += 1
        }
        BenchGuards.outOfBand(times.min, p)
      }
    // sustained load: every sample including retries inflated ~13x
    assert(flagged("q_a", Seq(1.31, 1.34, 1.29), Seq(1.4, 1.35)))
    // transient burst: retries come back in band -> retry rescues the
    // number, nothing archived as suspect
    assert(!flagged("q_a", Seq(1.31, 1.34, 1.29), Seq(0.11, 0.1)))
    // clean heavy query: never enters the retry loop
    assert(!flagged("q_b", Seq(1.9, 2.1, 1.85), Seq(9.9, 9.9)))
    // query with no usable prior (new this round): guard disabled
    assert(!flagged("q_new", Seq(9.0, 9.0, 9.0), Seq(9.0, 9.0)))
  }
}
