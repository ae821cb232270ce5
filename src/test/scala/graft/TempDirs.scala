package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Temporary directories for the suites: each is made under the system
  * temp directory and deleted, with everything in it, when the test JVM
  * exits (sbt forks one JVM for the test run). */
object TempDirs {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => made.asScala.foreach(delete)))

  /** A new empty directory whose name starts with `prefix`. */
  def create(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  private def delete(root: Path): Unit = if (Files.exists(root)) {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { p =>
      try Files.deleteIfExists(p) catch { case _: java.io.IOException => }
    } finally paths.close()
  }
}
