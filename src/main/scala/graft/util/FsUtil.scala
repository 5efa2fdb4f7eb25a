package graft.util

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Small filesystem helpers shared across the store and streaming stagers. */
object FsUtil {

  /** `Files.list` with a guaranteed stream close (the DirectoryStream must be
    * closed or it leaks a file descriptor per call).
    */
  def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator.asScala) finally s.close()
  }

  /** Total regular-file bytes under a path (0 for missing paths) — the
    * disk-shrink assertion primitive for compaction/re-base gates.
    */
  def sizeOf(p: Path): Long =
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      listDir(p)(_.map(sizeOf).sum)
    else if (Files.isRegularFile(p)) Files.size(p)
    else 0L

  /** Replace a small pointer/marker file atomically: write a hidden sibling
    * `.<name>.tmp`, then rename it over the target. A reader sees the old
    * content or the new, never an empty or truncated file — a crash
    * mid-write leaves only the tmp behind (hidden, so Spark's file index
    * skips it when the target sits inside a parquet root).
    */
  def atomicWrite(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Depth-first recursive delete; missing paths are a no-op. */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      listDir(p)(_.toSeq).foreach(deleteRecursively)
    Files.deleteIfExists(p)
    ()
  }
}
