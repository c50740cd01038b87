package graft.streaming

import java.nio.file.{Files, Path}

import graft.Fs.{listDir, rmTree, writeAtomic}

/** A directory whose contents live in numbered versions `<prefix><v>/`
  * behind a `_graft_current` pointer file naming the live one. View delta
  * logs (`views/<name>/delta-<v>`) and stream tables
  * (`tables/<rel>/data-<v>`) are both stored this way, so every fold,
  * compaction and expiry is one [[rewrite]] and runs ONLINE: appends into
  * the live version take `lock`, and readers resolve the pointer lock-free.
  * Rewrites of one directory serialize on `rewriteLock`, which appends
  * never take.
  *
  * `entries` lists a version's committed entries as paths relative to it
  * (a file or a whole directory); everything else in a version dir
  * (`_SUCCESS`, checksums, a write's `_temporary`) is carried by no one.
  *
  * `afterStep` runs after each durable step of a rewrite, with its name:
  * "write", "carry", "markers", "flip", and "grace" after each entry the
  * grace delete removes. It is a no-op except where a crash test makes it
  * throw. */
private[streaming] final class VersionedDir(root: Path, prefix: String,
                                            lock: AnyRef, rewriteLock: AnyRef,
                                            entries: Path => Seq[String],
                                            afterStep: String => Unit) {
  private val pointer = root.resolve("_graft_current")

  private def point(version: String): Unit = writeAtomic(pointer, version)

  /** The live version dir, initializing the pointer to `<prefix>0`. */
  def current: Path = {
    if (!Files.exists(pointer)) { Files.createDirectories(root); point(prefix + "0") }
    root.resolve(Files.readString(pointer))
  }

  /** Replace the live version v by v+1:
    *  1. snapshot — under `lock`, resolve v and list the entries `consumes`
    *     selects; with none, nothing is rewritten;
    *  2. write — outside the lock, clear any unreferenced v+1 a crashed
    *     rewrite left, then `write(v, snapshot, v+1)` fills v+1 from the
    *     snapshot;
    *  3. under `lock` again: hard-link every entry of v not consumed into
    *     v+1 (those outside the snapshot and those appended since), run
    *     `markers(snapshot)` — the caller's durable records of what the
    *     rewrite consumed, which must be on disk BEFORE v+1 goes live —
    *     flip the pointer, and delete the versions below v. Version v
    *     survives one rewrite as the grace window of in-flight readers.
    * Appends wait only for step 3, never for the write. */
  def rewrite(consumes: String => Boolean, markers: Seq[String] => Unit = _ => ())
             (write: (Path, Seq[String], Path) => Unit): Unit =
    rewriteLock.synchronized {
      val (cur, snap) = lock.synchronized {
        val cur = current
        (cur, entries(cur).filter(consumes))
      }
      if (snap.nonEmpty) {
        val v = VersionedDir.version(cur, prefix).get
        val next = root.resolve(prefix + (v + 1))
        rmTree(next.toFile)
        Files.createDirectories(next)
        write(cur, snap, next)
        afterStep("write")
        lock.synchronized {
          val consumed = snap.toSet
          entries(cur).filterNot(consumed).foreach { e =>
            Files.createDirectories(next.resolve(e).getParent)
            VersionedDir.linkTree(cur.resolve(e), next.resolve(e))
          }
          afterStep("carry")
          markers(snap)
          afterStep("markers")
          point(next.getFileName.toString)
          afterStep("flip")
          listDir(root).filter(VersionedDir.version(_, prefix).exists(_ < v)).foreach { d =>
            listDir(d).foreach { e => rmTree(e.toFile); afterStep("grace") }
            rmTree(d.toFile)
          }
        }
      }
    }
}

private[streaming] object VersionedDir {
  private def version(p: Path, prefix: String): Option[Long] =
    Some(p.getFileName.toString).filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)

  /** Recursive hard-link mirror: `dst` gets the same tree as `src` with
    * every regular file hard-linked (same inodes — zero data copied), the
    * metadata-only carry a table format (Hive/Iceberg) does by rewriting
    * only its manifest. */
  private def linkTree(src: Path, dst: Path): Unit =
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      listDir(src).foreach(c => linkTree(c, dst.resolve(c.getFileName)))
    } else try Files.createLink(dst, src) catch {
      // filesystem without hard links: carry by copy — correct, just not
      // metadata-only (parquet files are immutable either way)
      case _: UnsupportedOperationException =>
        Files.copy(src, dst, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
}
