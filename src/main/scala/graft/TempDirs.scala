package graft

import java.io.File
import java.nio.file.{Files, LinkOption, Path}

/** Temp directories that are removed with everything in them. */
object TempDirs {
  private val atExit = java.util.concurrent.ConcurrentHashMap.newKeySet[File]()
  private lazy val hook = sys.addShutdownHook(atExit.forEach(dir => deleteTree(dir)))

  /** Deletes `dir` and everything under it, without following links;
    * whatever is already gone, or cannot be deleted, is skipped. */
  def deleteTree(dir: File): Unit = {
    val root = dir.toPath
    if (Files.exists(root, LinkOption.NOFOLLOW_LINKS)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { p =>
        try Files.deleteIfExists(p) catch { case _: java.io.IOException => () }
      } finally paths.close()
    }
  }

  /** Removes `dir` and its contents when the JVM exits: for a directory
    * that a lazily evaluated DataFrame may read until then. */
  def deleteAtExit(dir: File): File = {
    hook
    atExit.add(dir)
    dir
  }

  /** A new temp directory `prefix…`, removed when the JVM exits. */
  def untilExit(prefix: String): File =
    deleteAtExit(Files.createTempDirectory(prefix).toFile)
}
