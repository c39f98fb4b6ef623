package graft.queries

/** Collision-free scratch-directory keys shared by every query that
  * materializes per-data-dir state under `java.io.tmpdir` — two data dirs
  * must never share (and thus silently cross-read) a scratch dir, so the
  * key is an injective encoding of the full path (hex of the path bytes),
  * degrading to md5 only when the hex would be unwieldy.
  */
private[queries] object ScratchKeys {
  def forPath(path: String): String = {
    val hex = path.getBytes("UTF-8").map(b => f"$b%02x").mkString
    if (hex.length <= 128) hex
    else java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** Run `body` in a fresh directory under `java.io.tmpdir` (named
    * `prefix` + a random suffix), deleted recursively when `body` returns
    * or throws. A frame `body` returns must not read from the dir: it is
    * materialized first (e.g. `localCheckpoint(true)`).
    */
  def withScratch[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir) finally deleteRecursively(dir)
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}
