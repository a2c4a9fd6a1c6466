package graft

import java.nio.file.{Files, Path}

/** Scratch dirs of the test suites. Each is made under the per-JVM
  * scratch parent ([[SparkEntry.scratchParent]]), which is deleted when
  * the JVM exits, so a suite that does not delete its own dirs leaves
  * nothing behind in the JVM temp dir. */
object TestDirs {
  def create(prefix: String): Path = Files.createTempDirectory(SparkEntry.scratchParent, prefix)
}
