package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils

/** Scratch directories for catalog drives that write a table and read it
  * back (stored registries and indexes, append logs, crawl state). Every
  * dir is created under one per-JVM `graft_scratch_*` root in
  * `java.io.tmpdir`, and one shutdown hook deletes that root recursively,
  * so a run leaves nothing behind however many drives it makes. */
object Scratch {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => FileUtils.deleteQuietly(r.toFile)))
    r
  }

  /** A fresh, empty dir under the scratch root, named `prefix` + a
    * random suffix. */
  def dir(prefix: String): String = Files.createTempDirectory(root, prefix).toString
}
