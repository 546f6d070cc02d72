package graft

/** Temp dirs that specs leave nothing of. */
object TempDirs {
  /** Runs `body` on a fresh temp dir whose name starts with `prefix`,
    * then deletes the tree, also when `body` throws.
    */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
