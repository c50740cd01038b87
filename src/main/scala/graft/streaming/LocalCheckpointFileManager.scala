package graft.streaming

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException, Paths, Path => JPath}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import java.nio.file.attribute.{BasicFileAttributes, PosixFilePermission}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.Fs.rmTree
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark's `CheckpointFileManager` for `file:` paths, over java.nio. The
  * offsets WAL, the commit log and the state store's files of every query
  * go through it once [[KinesisEngine]] names it in the session. Without
  * Hadoop's native library, the stock manager's `FileContext` forks
  * `readlink` on every link-status call and `chmod` on every file it
  * creates — ten process spawns per checkpoint log write.
  *
  *  - `createAtomic` writes `.<name>.<uuid>.tmp` beside the target; `close`
  *    renames it into place when overwriting is allowed, and otherwise
  *    hard-links it, so an existing target fails with Hadoop's
  *    `FileAlreadyExistsException` (the metadata log's concurrent-writer
  *    signal) and keeps its bytes. Either way the target's `.<name>.crc`
  *    sidecar, which the stock manager wrote, is dropped first: a stale
  *    one fails a replayed commit as a phantom concurrent writer.
  *  - no sidecars are written; `open` reads through `RawLocalFileSystem`
  *    (no checksum check, no fork), `delete` removes a file's sidecar
  *    with it, and `list` returns neither sidecars nor temp files.
  *
  * A path with another scheme gets what `CheckpointFileManager.create`
  * returns with the class key unset. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new NioCheckpointFiles(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.Key)
      CheckpointFileManager.create(path, conf)
    }
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = delegate.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  def exists(p: Path): Boolean = delegate.exists(p)
  def delete(p: Path): Unit = delegate.delete(p)
  def isLocal: Boolean = delegate.isLocal
  def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** Spark's session key naming the checkpoint file manager class. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"
}

private final class NioCheckpointFiles(root: Path, conf: Configuration)
    extends CheckpointFileManager {

  private def local(p: Path): JPath = Paths.get(p.toUri.getPath)
  private def qualified(f: JPath): Path = new Path("file", null, f.toAbsolutePath.toString)
  private def sidecar(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")
  private def hidden(name: String): Boolean =
    name.startsWith(".") && (name.endsWith(".crc") || name.endsWith(".tmp"))

  private lazy val raw = {
    val fs = new RawLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = local(p)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    new CancellableFSDataOutputStream(Files.newOutputStream(tmp, CREATE_NEW, WRITE)) {
      private var done = false

      override def close(): Unit = synchronized {
        if (!done) {
          done = true
          try {
            super.close()
            Files.deleteIfExists(sidecar(target))
            if (overwriteIfPossible) Files.move(tmp, target, ATOMIC_MOVE, REPLACE_EXISTING)
            else try Files.createLink(target, tmp) catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$p already exists")
            }
          } finally Files.deleteIfExists(tmp)
        }
      }

      def cancel(): Unit = synchronized {
        if (!done) {
          done = true
          try underlyingStream.close() catch { case NonFatal(_) => }
          Files.deleteIfExists(tmp)
        }
      }
    }
  }

  def open(p: Path): FSDataInputStream = raw.open(p)

  /** Like `RawLocalFileSystem.listStatus`, an entry deleted between the
    * directory read and its stat is skipped. */
  def list(p: Path, filter: PathFilter): Array[FileStatus] = {
    val dir = local(p)
    if (!Files.exists(dir)) throw new FileNotFoundException(s"$p does not exist")
    val s = Files.list(dir)
    try s.iterator.asScala.filterNot(f => hidden(f.getFileName.toString)).flatMap { f =>
      try {
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        Some(new FileStatus(a.size, a.isDirectory, 1, 0L,
          a.lastModifiedTime.toMillis, qualified(f)))
      } catch { case _: NoSuchFileException => None }
    }.filter(st => filter.accept(st.getPath)).toArray
    finally s.close()
  }

  def mkdirs(p: Path): Unit = Files.createDirectories(local(p))
  def exists(p: Path): Boolean = Files.exists(local(p))
  def delete(p: Path): Unit = {
    val f = local(p)
    rmTree(f.toFile)
    if (Files.exists(f)) throw new IOException(s"could not delete $p")
    Files.deleteIfExists(sidecar(f))
  }
  def isLocal: Boolean = true
  def createCheckpointDirectory(): Path = {
    val dir = local(root)
    Files.createDirectories(dir)
    qualified(dir)
  }
}

/** Hadoop's local filesystem, checksummed as usual, whose raw layer sets
  * file modes with `Files.setPosixFilePermissions` instead of forking
  * `chmod` (Hadoop's fallback without its native library, run for every
  * file and directory a parquet write creates). The modes are the same
  * bits; a sticky bit, which java.nio cannot set, still goes to `chmod`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // owner rwx, group rwx, others rwx: bits 8..0, the enum's order
      val bits = permission.toShort
      val all = PosixFilePermission.values
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        all.indices.filter(i => (bits & (0x100 >> i)) != 0).map(all(_)).toSet.asJava)
    }
})
