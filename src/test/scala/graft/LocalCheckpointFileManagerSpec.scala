package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under a scheme of its own: a path on it is not a
  * `file:` path, so the manager must hand it to Spark's own manager. */
class OtherSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftother:///")
  override def getScheme: String = "graftother"
}

/** The contract Spark's metadata logs and state store rely on, for the
  * java.nio checkpoint file manager. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def fixture(): (java.nio.file.Path, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("lcfm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration()))
  }
  private def hpath(f: java.nio.file.Path) = new Path(f.toUri)
  private def names(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
    finally s.close()
  }
  private def write(fm: CheckpointFileManager, f: java.nio.file.Path, body: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(hpath(f), overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, f: java.nio.file.Path): String = {
    val in = fm.open(hpath(f))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private val all: PathFilter = _ => true

  test("createAtomic: invisible to list and exists until close, complete after") {
    val (dir, fm) = fixture()
    val f = dir.resolve("0")
    val out = fm.createAtomic(hpath(f), overwriteIfPossible = false)
    out.write("first half ".getBytes(UTF_8))
    assert(!fm.exists(hpath(f)))
    assert(fm.list(hpath(dir), all).isEmpty)
    out.write("second half".getBytes(UTF_8))
    assert(!fm.exists(hpath(f)))
    out.close()
    assert(fm.exists(hpath(f)))
    assert(read(fm, f) === "first half second half")
    assert(fm.list(hpath(dir), all).map(_.getPath.getName).toSeq === Seq("0"))
    assert(names(dir) === Set("0"), "no temp file and no sidecar left")
  }

  test("cancel leaves neither the target nor the temp file") {
    val (dir, fm) = fixture()
    val out = fm.createAtomic(hpath(dir.resolve("1")), overwriteIfPossible = true)
    out.write("abandoned".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("without overwrite an existing target throws Hadoop's FileAlreadyExistsException and keeps its bytes") {
    val (dir, fm) = fixture()
    val f = dir.resolve("2")
    write(fm, f, "old", overwrite = false)
    val out = fm.createAtomic(hpath(f), overwriteIfPossible = false)
    out.write("new".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel()
    assert(read(fm, f) === "old")
    assert(names(dir) === Set("2"))
  }

  test("with overwrite the target is replaced") {
    val (dir, fm) = fixture()
    val f = dir.resolve("3")
    write(fm, f, "old", overwrite = true)
    write(fm, f, "newer", overwrite = true)
    assert(read(fm, f) === "newer")
    assert(names(dir) === Set("3"))
  }

  test("a stale .crc sidecar of the target is dropped in both modes") {
    val (dir, fm) = fixture()
    for ((name, overwrite) <- Seq("4" -> false, "5" -> true)) {
      val sidecar = dir.resolve(s".$name.crc")
      Files.write(sidecar, Array[Byte](1, 2, 3))
      write(fm, dir.resolve(name), "body", overwrite)
      assert(!Files.exists(sidecar), name)
    }
  }

  test("list applies its filter and never returns a temp file or a sidecar") {
    val (dir, fm) = fixture()
    Seq("10", "11", "x").foreach(n => write(fm, dir.resolve(n), n, overwrite = false))
    Files.write(dir.resolve(".10.crc"), Array[Byte](0))
    val open = fm.createAtomic(hpath(dir.resolve("12")), overwriteIfPossible = false)
    val digits: PathFilter = p => p.getName.forall(_.isDigit)
    assert(fm.list(hpath(dir), digits).map(_.getPath.getName).sorted.toSeq === Seq("10", "11"))
    assert(fm.list(hpath(dir), all).map(_.getPath.getName).sorted.toSeq === Seq("10", "11", "x"))
    open.cancel()
    intercept[java.io.FileNotFoundException](fm.list(hpath(dir.resolve("missing")), all))
  }

  test("delete is recursive, ignores a missing path and removes a file's sidecar") {
    val (dir, fm) = fixture()
    val sub = dir.resolve("state/0/0")
    fm.mkdirs(hpath(sub))
    write(fm, sub.resolve("1.delta"), "d", overwrite = true)
    write(fm, dir.resolve("7"), "c", overwrite = false)
    Files.write(dir.resolve(".7.crc"), Array[Byte](0))
    fm.delete(hpath(dir.resolve("state")))
    fm.delete(hpath(dir.resolve("7")))
    fm.delete(hpath(dir.resolve("never-written")))
    assert(names(dir).isEmpty)
  }

  test("a file it writes reads back through Spark's stock manager, which finds no sidecar to verify") {
    val (dir, fm) = fixture()
    write(fm, dir.resolve("8"), "downgrade", overwrite = false)
    val stock = new FileContextBasedCheckpointFileManager(new Path(dir.toUri), new Configuration())
    assert(read(stock, dir.resolve("8")) === "downgrade")
    assert(stock.list(new Path(dir.toUri), all).map(_.getPath.getName).toSeq === Seq("8"))
  }

  test("a path on another scheme gets Spark's own manager") {
    val conf = new Configuration()
    conf.set("fs.graftother.impl", classOf[OtherSchemeFileSystem].getName)
    conf.set(LocalCheckpointFileManager.Key, classOf[LocalCheckpointFileManager].getName)
    val dir = Files.createTempDirectory("lcfm-other")
    val p = new Path(s"graftother://${dir.toAbsolutePath}")
    val fm = CheckpointFileManager.create(p, conf)
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    val unset = new Configuration(conf)
    unset.unset(LocalCheckpointFileManager.Key)
    val spark = fm.asInstanceOf[LocalCheckpointFileManager].delegate
    assert(spark.getClass === CheckpointFileManager.create(p, unset).getClass)
    // the calls reach it: a file written through it lands on the scheme's store
    val out = fm.createAtomic(new Path(p, "0"), overwriteIfPossible = false)
    out.write("x".getBytes(UTF_8))
    out.close()
    assert(Files.readString(Paths.get(dir.toString, "0")) === "x")
    assert(fm.exists(new Path(p, "0")))
  }
}
