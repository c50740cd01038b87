package graft

import java.nio.file.{Files, Path, StandardCopyOption}

/** Tiny shared filesystem helpers. */
object Fs {
  /** Recursive delete (checkpoint / temp / state cleanup). */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  /** Atomic single-file write (tmp + move): a concurrent reader sees the
    * old complete content or the new one, never a truncated file. */
  def writeAtomic(path: Path, body: String): Unit = {
    val tmp = path.resolveSibling("." + path.getFileName + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** A directory's entries ([] when it does not exist), closing the
    * underlying stream (`Files.list` holds a file handle until closed —
    * leaked handles accumulate under repeated polling). */
  def listDir(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.list(p)
      try { val it = s.iterator(); val b = Seq.newBuilder[Path]
            while (it.hasNext) b += it.next(); b.result() }
      finally s.close()
    }
}
