package org.apache.spark

/** Runs a test body under a reliable checkpoint dir, then unsets it.
  * Spark has no public way to unset the dir (`checkpointDir_=` is
  * `private[spark]`, hence this shim); without the reset the shared test
  * session would stay on the reliable tier for every later suite. */
object CheckpointDirs {
  def withDir[A](sc: SparkContext, dir: String)(body: => A): A = {
    sc.setCheckpointDir(dir)
    try body
    finally sc.checkpointDir = None
  }
}
