package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.ShardedLog
import graft.streaming.{KinesisEngine, LocalCheckpointFileManager}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.types._

/** The engine's durable local writes: checkpoint logs through
  * [[LocalCheckpointFileManager]] unless the session names a manager, and
  * parquet writes whose file modes match Hadoop's stock local filesystem. */
class LocalWritesSpec extends SparkSpec {

  private val Key = LocalCheckpointFileManager.Key
  private val Stock = classOf[FileContextBasedCheckpointFileManager].getName

  private def files(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
  }

  /** An engine over a fresh log and metaDir with one combiner SQL view;
    * `n` records put and consumed. */
  private def ingest(meta: String, root: String, n: Int): (KinesisEngine, Int) = {
    val eng = new KinesisEngine(spark, meta)
    eng.addEndpoint("ep", "r", url = root)
    eng.createStream("lw", StructType(Seq(StructField("k", StringType),
      StructField("v", LongType))))
    eng.sql("CREATE CONTINUOUS VIEW lw_view AS SELECT k, count(*) AS n FROM lw GROUP BY k")
    ShardedLog.append(s"$root/s", 0, (1 to n).map(i => (s"$i", s"k${i % 3},$i")))
    val id = eng.consumeBegin("ep", "s", "lw", format = "csv", delimiter = ",")
    eng.processAllAvailable()
    (eng, id)
  }

  private def withKey[T](value: Option[String])(body: => T): T = {
    val prior = spark.conf.getOption(Key)
    value.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
    try body finally prior.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
  }

  test("the engine names the java.nio manager in a session that names none") {
    withKey(None) {
      val meta = tmpDir("lw-meta")
      val (eng, id) = ingest(meta, tmpDir("lw-root"), 6)
      eng.consumeEndAll()
      val ckpt = new HPath(Paths.get(meta, "checkpoints", id.toString,
        "lw_view").toUri)
      assert(CheckpointFileManager.create(ckpt, spark.sessionState.newHadoopConf())
        .isInstanceOf[LocalCheckpointFileManager])
    }
  }

  test("a session that names a manager keeps it") {
    withKey(Some(Stock)) {
      new KinesisEngine(spark, tmpDir("lw-meta"))
      assert(spark.conf.get(Key) === Stock)
    }
  }

  test("view partials and table files get the modes Hadoop's stock local filesystem gives") {
    val meta = tmpDir("lw-meta")
    val (eng, _) = ingest(meta, tmpDir("lw-root"), 6)
    eng.consumeEndAll()
    val parquet = (dir: String) => files(Paths.get(dir))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val partials = parquet(s"$meta/views/lw_view")
    val table = parquet(eng.tableDataDir("lw"))
    assert(partials.nonEmpty && table.nonEmpty)
    val stockFile = Paths.get(tmpDir("lw-stock"), "f")
    FileSystem.getLocal(spark.sessionState.newHadoopConf())
      .create(new HPath(stockFile.toUri)).close()
    val mode = Files.getPosixFilePermissions(stockFile)
    (partials ++ table).foreach(f => assert(Files.getPosixFilePermissions(f) === mode, f))
  }

  test("a commit replayed over a stale .crc sidecar from the stock manager succeeds and drops it") {
    val meta = tmpDir("lw-meta"); val root = tmpDir("lw-root")
    val id = withKey(Some(Stock)) {
      val (eng, id) = ingest(meta, root, 9)
      eng.consumeEndAll()
      id
    }
    withKey(None) {
      val eng = new KinesisEngine(spark, meta)
      val commits = Paths.get(meta, "checkpoints", id.toString, "lw_view", "commits")
      val last = files(commits).filter(_.getFileName.toString.forall(_.isDigit))
        .maxBy(_.getFileName.toString.toLong)
      val sidecar = last.resolveSibling(s".${last.getFileName}.crc")
      assert(Files.exists(sidecar), "the stock manager wrote a sidecar")
      Files.delete(last)
      eng.consumeBeginAll()
      eng.processAllAvailable()
      eng.consumeEndAll()
      assert(Files.exists(last), "the batch was replayed and committed")
      assert(!Files.exists(sidecar))
      assert(eng.viewTable("lw_view").collect().map(r => r.getString(0) -> r.getLong(1))
        .sorted.toSeq === Seq("k0" -> 3L, "k1" -> 3L, "k2" -> 3L))
    }
  }
}
