package graft

import java.nio.file.{Files, Paths}

/** Band-check of the current bench run against a committed per-query
  * prior (`BENCH_PRIOR.json`). The min-of-N guards in [[Bench]] cannot
  * save a window where ALL samples are inflated together (q_dedup_ngram
  * once recorded 7.2 s against a true 1.8 s; q_text_quality 13× its
  * band): min-of-inflated is still inflated. A reference recorded on
  * another day is the one thing sustained box load can't touch, so: a
  * query whose min exceeds 3× its prior AND is absolutely significant
  * (>250 ms) earns a settle+retry, and if still out of band is flagged
  * `suspect` in the output. A genuine 3× regression still records its
  * measured time; the flag just marks "re-measure before trusting". Pure
  * functions, unit-tested with synthetic contamination in BenchGuardSpec. */
object BenchGuards {
  /** Out-of-band = min > 3× prior AND min > 250 ms absolute. The
    * absolute floor keeps sub-100-ms queries (where 3× is scheduler
    * noise, not contamination) out of the retry loop. */
  def outOfBand(minSec: Double, priorMs: Long): Boolean =
    minSec * 1000.0 > 3.0 * priorMs && minSec > 0.25

  /** Integer-ms `"q_name":ms` pairs out of any text: `BENCH_PRIOR.json`,
    * or a saved Bench log (its `queries_ms_plain` line). The int +
    * terminator shape skips the `total` line's fractional seconds and the
    * `iter_spread_ms` arrays, so only the ms map survives. */
  def parsePriorQueriesMs(text: String): Map[String, Long] =
    """"(q_[a-z0-9_]+)":([0-9]+)[,}]""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  /** Suite-level drift ratio vs the prior: Σ current ms over the keys
    * present in the prior ÷ Σ prior ms over the same keys, plus the
    * overlap size. The per-query 3× band guard is structurally blind to
    * broad 1.2–1.7× drift (every query a little slow, none 3×) — this
    * ratio makes such drift visible. None when nothing overlaps. */
  def commonVsPrior(cur: Map[String, Long],
                    prior: Map[String, Long]): Option[(Double, Int)] = {
    val common = (cur.keySet & prior.keySet).filter(k => prior(k) > 0)
    if (common.isEmpty) None
    else {
      val p = common.toSeq.map(prior).sum.toDouble
      if (p <= 0) None
      else Some((common.toSeq.map(cur).sum.toDouble / p, common.size))
    }
  }

  /** Per-FAMILY drift ratios vs the same prior: [[commonVsPrior]] over
    * the keys of each query family (the first `_`-token after `q_`),
    * reported only for families with ≥ `minN` common keys — the
    * broad-drift signal localized to a family. Sorted by family for
    * stable diffs. */
  def famCvp(cur: Map[String, Long], prior: Map[String, Long],
             minN: Int = 6): Seq[(String, Double, Int)] = {
    (cur.keySet & prior.keySet).filter(k => prior(k) > 0)
      .groupBy(k => k.stripPrefix("q_").takeWhile(_ != '_')).toSeq
      .collect { case (fam, ks) if ks.size >= minN =>
        val p = ks.toSeq.map(prior).sum.toDouble
        (fam, ks.toSeq.map(cur).sum / p, ks.size)
      }.filter(_._2 > 0).sortBy(_._1)
  }

  /** The prior: the file named by SPARK_GRAFT_BENCH_PRIOR, else the
    * committed `BENCH_PRIOR.json` (the per-query min over two archived
    * sf0.1 runs, so one contamination-inflated recording cannot hide a
    * repeat). A saved Bench log serves as well. Empty map (guards
    * disabled) when the file is missing or unreadable. */
  def loadPrior(): Map[String, Long] =
    try parsePriorQueriesMs(Files.readString(Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "BENCH_PRIOR.json"))))
    catch { case _: java.io.IOException => Map.empty }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // Warm the scan/join/codegen paths once so the first timed query
    // doesn't absorb JVM/classloading warmup.
    try {
      SparkEntry.queries("q_scan_parquet")(spark, sfDir).count()
      SparkEntry.queries("q_join_inner")(spark, sfDir).count()
    } catch { case _: Throwable => () }
    // min over iterations: single runs at this scale carry ±50% JIT/GC
    // noise that would swamp real regressions in the round-over-round diff.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    // An EXPLICIT iteration count is a fast-iteration request (README's
    // single-query workflow): the stability/heavy/contamination guards
    // below must not silently top samples back up — they apply only to
    // the defaulted artifact-producing run.
    val guards = !sys.env.contains("SPARK_GRAFT_BENCH_ITERS")
    // comma-separated allowlist for single-query iteration; unset = all
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spreads = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // (measured_ms, prior_ms) for queries still >3x their prior after
    // settle+retry — see BenchGuards
    val suspects = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    val prior: Map[String, Long] = if (guards) BenchGuards.loadPrior() else Map.empty
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
      // A failing query is recorded as an error, never as a timing: its
      // time-to-exception would otherwise masquerade as a fast run and a
      // new failure would read as an "improvement" in the round diff.
      def once(): Option[Double] =
        if (errors.contains(name)) None
        else {
          spark.catalog.clearCache() // queries may cache() internally
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            Some((System.nanoTime() - t0) / 1e9)
          } catch {
            case e: Throwable =>
              errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
              None
          }
        }
      var times = (1 to iters).flatMap(_ => once())
      // Stability guard: sub-second queries carry the largest relative
      // JIT/GC/contention noise (r8→r9 swung the suite 7.7 s on identical
      // code), so give them one extra iteration — cheap by construction —
      // before taking the min.
      if (guards && !errors.contains(name) && times.nonEmpty && times.min < 1.0)
        times = times ++ once()
      // Heavy-query guard: multi-second queries dominate the suite total
      // AND are the ones sustained box load disturbs in BOTH default
      // iterations at once (r10 archived q_dedup_ngram at 7.2 s where an
      // idle box runs it in 1.8 s — the >40% rule below can't fire when
      // the two samples are inflated together). Three samples always for
      // anything whose first run exceeds 1 s: the min of three survives
      // a contamination burst that a min of two doesn't.
      if (guards && !errors.contains(name) && times.nonEmpty && times.head > 1.0)
        while (times.size < 3 && !errors.contains(name))
          times = times ++ once()
      // Contamination retry: when the two samples disagree by >40%, at
      // least one was disturbed by outside load — buy a third observation
      // exactly then. On a clean run this costs nothing; on a loaded box
      // it keeps the min close to the query's true time instead of
      // letting a doubly-disturbed pair inflate the round total.
      if (guards && !errors.contains(name) && times.size >= 2) {
        val s = times.sorted
        if (s(1) / s(0) - 1.0 > 0.4) times = times ++ once()
      }
      // Band check (BenchGuards): sustained contamination inflates EVERY
      // sample in the window, which none of the guards above can detect —
      // the prior can. Out of band → settle, retry (twice at most); still
      // out → flag suspect rather than silently report a contaminated
      // number.
      if (guards && !errors.contains(name) && times.nonEmpty) {
        // a 0-ms prior would make outOfBand unconditionally true —
        // unusable priors disable the guard for that query, exactly as
        // BenchGuardSpec models
        prior.get(name).filter(_ > 0).foreach { p =>
          var extra = 0
          while (extra < 2 && !errors.contains(name) &&
                 BenchGuards.outOfBand(times.min, p)) {
            System.gc(); Thread.sleep(500)
            times = times ++ once(); extra += 1
          }
          if (!errors.contains(name) && BenchGuards.outOfBand(times.min, p))
            suspects(name) = (math.round(times.min * 1000), p)
        }
      }
      // a query that failed on ANY iteration is an error, never a timing
      if (times.nonEmpty && !errors.contains(name)) {
        timings(name) = times.min
        spreads(name) = times.sorted
      }
      // Isolation between queries: q_stream_ingest tears down a whole
      // engine (streaming queries, checkpoints, temp dirs); without a GC +
      // settle the teardown debt lands in the NEXT query's timing (r4 saw
      // q_topk at 3.6× its band purely from run order). Outside the timed
      // region, so it costs wall-clock only, not benched seconds.
      System.gc()
      Thread.sleep(250)
      }
    }
    val qs = timings.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    val total = if (timings.nonEmpty) timings.values.sum else 0.0
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"sf":"$sfDir"}""")
    // Per-query iteration spread [best, second-best, ...] in ms: a clean
    // run shows tight pairs; a contaminated run (other load on the box)
    // shows 2-3× gaps, making an unlucky 2×-gate flip self-evident.
    val sprd = spreads.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(t => math.round(t * 1000)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"iter_spread_ms","queries":$sprd}""")
    // q_stream_ingest's wall-clock is trigger-wait dominated under
    // contention, so records/s and the seed/run/stop decomposition are
    // the comparable numbers.
    graft.queries.StreamingIngest.lastStats.foreach { st =>
      println(f"""{"metric":"ingest_throughput","records":${st.records},"rec_per_s":${st.recPerS}%.1f,"seed_s":${st.seedS}%.3f,"setup_s":${st.setupS}%.3f,"drain_s":${st.drainS}%.3f,"stop_s":${st.stopS}%.3f}""")
    }
    // A suspect entry means "this number is >3x its prior after
    // settle+retries — re-measure before trusting it". Printed only when
    // non-empty; the count rides in the summary as `n_su`.
    if (suspects.nonEmpty) {
      val susp = suspects.map { case (k, (ms, pms)) =>
        "\"" + k + "\":{\"ms\":" + ms + ",\"prior_ms\":" + pms + "}"
      }.mkString("{", ",", "}")
      println(s"""{"metric":"band_suspects","queries":$susp}""")
    }
    // The per-query integer-ms map: the shape BenchGuards.loadPrior reads,
    // so a saved log of this run can serve as the next run's prior.
    val curMs = timings.map { case (k, v) => k -> math.round(v * 1000) }
    val msPlain = curMs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"queries_ms_plain","ms":$msPlain,"n":${timings.size}}""")
    // run cleanliness in two numbers: median and p90 of
    // (second_best/best - 1) over all queries
    val ratios = spreads.values.collect {
      case v if v.size >= 2 && v.head > 0 => v(1) / v.head - 1.0
    }.toSeq.sorted
    val med = if (ratios.isEmpty) 0.0 else ratios(ratios.size / 2)
    val p90 = if (ratios.isEmpty) 0.0 else ratios((ratios.size * 9) / 10 min (ratios.size - 1))
    val rps = graft.queries.StreamingIngest.lastStats
      .map(st => f"""${st.recPerS}%.1f""").getOrElse("null")
    // Σ current / Σ prior over common keys — the broad-drift signal the
    // per-query 3× band guard cannot see; null/0 when no prior parses.
    val cur = curMs.toMap
    val cvp = BenchGuards.commonVsPrior(cur, prior)
    val cvpS = cvp.map { case (r, _) => f"$r%.3f" }.getOrElse("null")
    val cvpN = cvp.map(_._2).getOrElse(0)
    // the same ratio per family with ≥6 common queries
    val fcv = BenchGuards.famCvp(cur, prior)
      .map { case (fam, r, _) => f"$fam:$r%.2f" }.mkString(",")
    // Keys (also in README): t_s total seconds, n_q queries, n_err
    // errors, n_su band suspects, n_pr usable priors, sm/s9 spread
    // median/p90, cvp/nc drift ratio + common-set size vs the prior, fcv
    // the same ratio per ≥6-query family, rps ingest records/s.
    println(f"""{"metric":"summary","t_s":$total%.3f,"n_q":${timings.size},"n_err":${errors.size},"n_su":${suspects.size},"n_pr":${prior.size},"sm":$med%.3f,"s9":$p90%.3f,"cvp":$cvpS,"nc":$cvpN,"fcv":"$fcv","rps":$rps}""")
    spark.stop()
  }
}
