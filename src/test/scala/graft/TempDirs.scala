package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

/** Temp dirs for specs that do not delete them inline: each dir is
  * registered when made and deleted, with everything under it, when the
  * test JVM exits. Exit, not a suite's `afterAll`, because shared fixtures
  * (`StreamCodegenReuseSpec`'s input table) hand one dir to several suites.
  */
object TempDirs {
  private val dirs = new ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(dirs.forEach(SparkEntry.deleteRecursively(_)))

  /** A new dir under `java.io.tmpdir` named `prefix` plus a random suffix. */
  def apply(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir
  }
}
