package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** Scratch directories for sink round-trips and derived layouts (q02's
  * re-read, the codec matrix, exports, bucketed and partitioned copies,
  * stream sources). Every directory handed out is deleted recursively
  * when the JVM exits, by one shutdown hook for all of them: the
  * layouts are cached per JVM ([[layout]]), so nothing may delete them
  * earlier. */
object TempDirs {
  private val created = new ConcurrentLinkedQueue[Path]()
  private val layouts = new ConcurrentHashMap[(String, String), String]()

  // registered once, when the object is first used
  sys.addShutdownHook {
    created.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
  }

  /** `Files.createTempDirectory(prefix)`, deleted at JVM exit. */
  def createTempDirectory(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    created.add(d)
    d.toString
  }

  /** A derived layout built once per JVM: the first call for
    * (`prefix`, `key`) runs `build` on a fresh
    * [[createTempDirectory]]`(prefix)`; every call returns that
    * directory. Building a layout is input preparation, not the query
    * under test, so repeated runs measure the query alone. */
  def layout(key: String, prefix: String)(build: String => Unit): String =
    layouts.computeIfAbsent((prefix, key), { _ =>
      val d = createTempDirectory(prefix)
      build(d)
      d
    })
}
