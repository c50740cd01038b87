package graft

import graft.sources.ShardedLog
import graft.streaming.KinesisEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Shrink, Test => SCTest}
import org.scalacheck.rng.Seed

/** Model-based restart property of the view engine. Seeded, shrinkable
  * random sequences, each under its own fold cadence, of engine
  * operations — put, consume to quiescence,
  * view fold, stream-table compaction and TTL expiry, restart (a fresh
  * engine over the same metaDir, optionally after a crash between the last
  * view write and its commit), a crash at one durable step of every fold
  * followed by such a restart, and removing and re-creating the consumer —
  * run against SQL views, which are catalog-durable. After each step, once
  * the engine has quiesced, a combiner view and a state-path view must each
  * equal a batch groupBy over the stream table, and the stream table must
  * hold exactly the put ids. Records carry a unique id: the raw stream
  * table is at-least-once (a re-created consumer re-appends the log), so
  * the reference dedups it by id. */
class EngineModelSpec extends SparkSpec {

  private sealed trait Step
  private case class Put(n: Int) extends Step
  private case object Process extends Step
  private case object Compact extends Step
  private case object CompactTable extends Step
  private case object ExpireTable extends Step
  private case class Restart(crash: Boolean) extends Step
  /** Every view fold and the table's partition fold throw at `point`,
    * then Restart(crash = true). */
  private case class FoldCrash(point: String) extends Step
  private case object Recreate extends Step

  private val Points = Seq("write", "carry", "markers", "flip", "grace")

  private val stepGen: Gen[Step] = Gen.frequency(
    4 -> Gen.choose(1, 30).map(Put(_)),
    1 -> Gen.const(Process),
    2 -> Gen.const(Compact),
    1 -> Gen.const(CompactTable),
    1 -> Gen.const(ExpireTable),
    2 -> Gen.oneOf(true, false).map(Restart(_)),
    2 -> Gen.oneOf(Points).map(FoldCrash(_)),
    1 -> Gen.const(Recreate))

  /** A fold cadence (2–5) and the steps, which end in a FoldCrash on
    * either side of the pointer flip, where the pointer and the fold's
    * marker can disagree. Under a cadence of c the newest combiner batch
    * is an unfolded `b<stamp>` dir at c − 1 of c batch ids: the state in
    * which a fold marker written after the flip lets the restart's replay
    * count that batch twice. */
  private val stepsGen: Gen[(Int, List[Step])] = for {
    first <- Gen.choose(5, 30).map(Put(_))
    n <- Gen.choose(3, 7)
    rest <- Gen.listOfN(n, stepGen)
    last <- Gen.oneOf("markers", "flip").map(FoldCrash(_))
    every <- Gen.choose(2, 5)
  } yield (every, first :: rest ::: List(last))

  private val Combiner = "SELECT k, count(*) AS n, sum(v) AS s FROM ms GROUP BY k"
  private val StatePath = "SELECT k, count(*) AS n, avg(v) AS a FROM ms GROUP BY k"

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private class Crash(point: String) extends RuntimeException(s"crash after $point")

  /** `parent-metadir.zip`: the log and metaDir of a run of the engine as
    * it was before view deltas and stream tables shared one versioned-dir
    * module, over this spec's stream and views with `autoCompactEvery = 2`:
    * ids 1–20 put and consumed, both views and the table folded, then ids
    * 21–30 and 31–33 consumed, leaving unfolded batches. */
  private def legacyRun(): (String, String) = {
    val base = tmpDir("em-legacy")
    val zin = new java.util.zip.ZipInputStream(
      getClass.getResourceAsStream("/parent-metadir.zip"))
    try Iterator.continually(zin.getNextEntry).takeWhile(_ != null).foreach { e =>
      val out = java.nio.file.Paths.get(base, e.getName)
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.copy(zin, out)
    } finally zin.close()
    (s"$base/log", s"$base/meta")
  }
  private val LegacyPuts = 33L

  /** Run one step sequence on a fresh metaDir, or on the legacy one;
    * throws on the first step after which a view or the stream table
    * differs from the reference. */
  private def run(steps: List[Step], legacy: Boolean = false, every: Int = 2): Unit = {
    val (root, meta) =
      if (legacy) legacyRun() else (tmpDir("em-root"), tmpDir("em-meta"))
    val dir = s"$root/s"
    new java.io.File(dir).mkdirs()
    def begin(e: KinesisEngine): Int = e.consumeBegin("ep", "s", "ms", format = "csv",
      delimiter = ",", batchsize = 6)
    var eng = new KinesisEngine(spark, meta, autoCompactEvery = every)
    eng.addEndpoint("ep", "r", url = root)
    var puts = 0L
    var id =
      if (legacy) { puts = LegacyPuts; eng.consumeBeginAll(); eng.listConsumers.head.id }
      else {
        eng.createStream("ms", StructType(Seq(StructField("id", LongType),
          StructField("k", StringType), StructField("v", LongType))))
        eng.sql(s"CREATE CONTINUOUS VIEW m_comb AS $Combiner")
        eng.sql(s"CREATE CONTINUOUS VIEW m_state AS $StatePath")
        begin(eng)
      }
    val rnd = new scala.util.Random(steps.hashCode)
    var tableFolds = 0
    // the table's newest date partition: the one its cadence fold compacts
    def today: Option[String] =
      Option(new java.io.File(eng.tableDataDir("ms")).listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith("__arrival_date="))
        .map(_.stripPrefix("__arrival_date=")).maxOption
    def restart(crash: Boolean): Unit = {
      eng.consumeEndAll()
      // a crash between a view's last write and its commit: drop the
      // commit record, and the restarted query re-runs that batch
      if (crash) Seq("m_comb", "m_state").foreach { v =>
        val commits = new java.io.File(s"$meta/checkpoints/$id/$v/commits")
        Option(commits.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.forall(_.isDigit)).maxByOption(_.getName.toLong)
          .foreach(f => java.nio.file.Files.delete(f.toPath))
      }
      eng = new KinesisEngine(spark, meta, autoCompactEvery = every)
      eng.consumeBeginAll()
    }
    def check(step: Step): Unit = if (puts > 0) {
      eng.processAllAvailable()
      val st = eng.streamTable("ms")
      val ids = st.agg(countDistinct("id"), min("id"), max("id"),
        count(when(col("id").isNull, 1))).head()
      assert((ids.getLong(0), ids.getLong(1), ids.getLong(2), ids.getLong(3)) ===
        ((puts, 1L, puts, 0L)),
        s"after $step: the stream table holds every put id and no other")
      val ref = st.dropDuplicates("id")
      ref.createOrReplaceTempView("ms")
      try {
        assert(rowsOf(eng.viewTable("m_comb")) === rowsOf(spark.sql(Combiner)),
          s"after $step: the combiner view equals a batch recomputation")
        assert(rowsOf(eng.viewTable("m_state")) === rowsOf(spark.sql(StatePath)),
          s"after $step: the state-path view equals a batch recomputation")
      } finally spark.catalog.dropTempView("ms")
    }
    try steps.foreach { step =>
      step match {
        case Put(n) =>
          ShardedLog.putRecords(dir, 2, (1 to n).map { _ =>
            puts += 1
            val k = s"k${rnd.nextInt(6)}"
            (k, s"$puts,$k,${rnd.nextInt(50)}".getBytes("UTF-8"))
          })
        case Process => eng.processAllAvailable()
        case Compact => Seq("m_comb", "m_state").foreach(eng.compactViewTable(_))
        case CompactTable =>
          if (tableFolds % 2 == 0) eng.compactStreamTable("ms")
          else today.foreach(eng.compactStreamTablePartition("ms", _))
          tableFolds += 1
        case ExpireTable => eng.expireStreamTable("ms", "1 HOUR") // keeps every row
        case Restart(crash) => restart(crash)
        case FoldCrash(point) =>
          // only this thread's folds crash, not a cadence fold
          val me = Thread.currentThread()
          eng.afterDurableStep = s =>
            if (s == point && (Thread.currentThread() eq me)) throw new Crash(point)
          val folds: Seq[() => Unit] = Seq(
            () => eng.compactViewTable("m_comb"),
            () => eng.compactViewTable("m_state"),
            () => today.foreach(eng.compactStreamTablePartition("ms", _)))
          try folds.foreach(f => try f() catch { case _: Crash => })
          finally eng.afterDurableStep = _ => ()
          restart(crash = true)
        case Recreate =>
          eng.consumeEnd("ep", "s", "ms")
          eng.removeConsumer("ep", "s", "ms")
          id = begin(eng)
      }
      check(step)
    } finally eng.consumeEndAll()
  }

  test("random put/consume/fold/restart/re-create sequences keep both view paths equal to a batch recomputation") {
    // only the steps shrink; the cadence stays
    val prop = Prop.forAllShrink(stepsGen,
      (c: (Int, List[Step])) => Shrink.shrink(c._2).map(c._1 -> _)) {
      case (every, steps) => run(steps, every = every); true
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(4)
      .withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, s"engine restart property: $res")
  }

  test("a crash at every durable step of a fold, then a restart, loses and double-counts nothing") {
    // per step: the first crash hits folds that consume the first batch
    // (at most 6 records per shard make one batch, which no cadence fold
    // consumes) and a restart that replays it; the last crash hits
    // rewrites with an older version for the grace delete to remove
    def crashes(point: String): Gen[List[Step]] = for {
      first <- Gen.choose(1, 6).map(Put(_))
      n <- Gen.choose(1, 3)
      rest <- Gen.listOfN(n, stepGen)
    } yield first :: FoldCrash(point) :: rest ::: List(FoldCrash(point))
    Points.foreach { p =>
      val res = SCTest.check(SCTest.Parameters.default
        .withMinSuccessfulTests(1)
        .withInitialSeed(Seed(20261018L)), Prop.forAll(crashes(p)) { steps => run(steps); true })
      assert(res.passed, s"crash after $p: $res")
    }
  }

  test("a metaDir written before the versioned-dir module resumes, folds and equals a batch recomputation") {
    // no ExpireTable: the legacy records arrived when the fixture was
    // written, so a TTL rightly drops them
    run(List(Process, Put(7), Compact, CompactTable, Put(4), CompactTable,
      FoldCrash("flip"), Put(3)), legacy = true)
  }
}
