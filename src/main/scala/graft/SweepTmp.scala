package graft

/** Temp-dir hygiene for the scale-sweep mains: each sweep materializes a
  * 10×/100× scaled parquet copy of its input tables, and before this helper
  * those directories accumulated under /tmp across runs (gigabytes per
  * sweep). Every directory is also deleted by a JVM shutdown hook, so a
  * crashed or gate-tripped run cleans up on its exit path too. Deletion is
  * `LocalFs.rmTree`, which removes a symlink inside the tree as a link and
  * leaves its target alone.
  */
object SweepTmp {

  /** Create a temp directory that is recursively deleted on JVM exit. */
  def dir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => sources.LocalFs.rmTree(p.toFile)))
    p.toString
  }

  /** A temp directory for `body`, deleted as soon as `body` returns or
    * throws: a 100× scaled copy is tens of GB, and two legs' copies must
    * not coexist.
    */
  def withDir[T](prefix: String)(body: String => T): T = {
    val d = dir(prefix)
    try body(d) finally sources.LocalFs.rmTree(new java.io.File(d))
  }
}
