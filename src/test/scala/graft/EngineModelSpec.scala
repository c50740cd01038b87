package graft

import graft.sources.ShardedLog
import graft.streaming.KinesisEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** Model-based restart property of the view engine. Seeded, shrinkable
  * random sequences of engine operations — put, consume to quiescence,
  * fold, restart (a fresh engine over the same metaDir, optionally after a
  * crash between the last view write and its commit), and removing and
  * re-creating the consumer — run against SQL views, which are
  * catalog-durable. After each step, once the engine has quiesced, a
  * combiner view and a state-path view must each equal a batch groupBy
  * over the stream table. Records carry a unique id: the raw stream table
  * is at-least-once (a re-created consumer re-appends the log), so the
  * reference dedups it by id and also checks that no put record is
  * missing. */
class EngineModelSpec extends SparkSpec {

  private sealed trait Step
  private case class Put(n: Int) extends Step
  private case object Process extends Step
  private case object Compact extends Step
  private case class Restart(crash: Boolean) extends Step
  private case object Recreate extends Step

  private val stepGen: Gen[Step] = Gen.frequency(
    4 -> Gen.choose(1, 30).map(Put(_)),
    2 -> Gen.const(Process),
    2 -> Gen.const(Compact),
    3 -> Gen.oneOf(true, false).map(Restart(_)),
    2 -> Gen.const(Recreate))

  private val stepsGen: Gen[List[Step]] = for {
    first <- Gen.choose(5, 30).map(Put(_))
    n <- Gen.choose(3, 7)
    rest <- Gen.listOfN(n, stepGen)
  } yield first :: rest

  private val Combiner = "SELECT k, count(*) AS n, sum(v) AS s FROM ms GROUP BY k"
  private val StatePath = "SELECT k, count(*) AS n, avg(v) AS a FROM ms GROUP BY k"

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Run one step sequence on a fresh metaDir; throws on the first step
    * after which a view differs from the reference. */
  private def run(steps: List[Step]): Unit = {
    val root = tmpDir("em-root"); val meta = tmpDir("em-meta")
    val dir = s"$root/s"
    new java.io.File(dir).mkdirs()
    def begin(e: KinesisEngine): Int = e.consumeBegin("ep", "s", "ms", format = "csv",
      delimiter = ",", batchsize = 6)
    var eng = new KinesisEngine(spark, meta, autoCompactEvery = 2)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("ms", StructType(Seq(StructField("id", LongType),
      StructField("k", StringType), StructField("v", LongType))))
    eng.sql(s"CREATE CONTINUOUS VIEW m_comb AS $Combiner")
    eng.sql(s"CREATE CONTINUOUS VIEW m_state AS $StatePath")
    var id = begin(eng)
    val rnd = new scala.util.Random(steps.hashCode)
    var puts = 0L
    def check(step: Step): Unit = if (puts > 0) {
      eng.processAllAvailable()
      val st = eng.streamTable("ms")
      assert(st.select("id").distinct().count() === puts,
        s"after $step: the stream table holds every put record")
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
        case Restart(crash) =>
          eng.consumeEndAll()
          // a crash between a view's last write and its commit: drop the
          // commit record, and the restarted query re-runs that batch
          if (crash) Seq("m_comb", "m_state").foreach { v =>
            val commits = new java.io.File(s"$meta/checkpoints/$id/$v/commits")
            Option(commits.listFiles()).getOrElse(Array.empty)
              .filter(_.getName.forall(_.isDigit)).maxByOption(_.getName.toLong)
              .foreach { f =>
                java.nio.file.Files.delete(f.toPath)
                java.nio.file.Files.deleteIfExists(
                  f.toPath.resolveSibling(s".${f.getName}.crc"))
              }
          }
          eng = new KinesisEngine(spark, meta, autoCompactEvery = 2)
          eng.consumeBeginAll()
        case Recreate =>
          eng.consumeEnd("ep", "s", "ms")
          eng.removeConsumer("ep", "s", "ms")
          id = begin(eng)
      }
      check(step)
    } finally eng.consumeEndAll()
  }

  test("random put/consume/fold/restart/re-create sequences keep both view paths equal to a batch recomputation") {
    val prop = Prop.forAll(stepsGen) { steps => run(steps); true }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(4)
      .withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, s"engine restart property: $res")
  }
}
