package graft

import java.nio.file.{Files, Path}

/** Per-JVM scratch space for query staging (stream-source directories,
  * sink round-trips, single-file exports). Every staging directory lands
  * under ONE root that a shutdown hook removes recursively, so repeated
  * bench/correctness runs in the same JVM do not leak disk or stale
  * memory-sink staging dirs. Callers that finish with a directory early
  * (e.g. a stream that has fully drained its source) can reclaim it
  * immediately with [[discard]].
  */
object Staging {
  private[graft] lazy val root: Path = {
    val r = Files.createTempDirectory("graft-staging-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  /** A fresh directory under the per-JVM staging root. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  private[graft] lazy val fastRoot: Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val r =
      if (Files.isDirectory(shm) && Files.isWritable(shm))
        Files.createTempDirectory(shm, "graft-staging-")
      else Files.createTempDirectory("graft-staging-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  /** Scratch for latency-sensitive small files — streaming checkpoints
    * (state-store deltas/snapshots, offset log). Prefers tmpfs: the
    * round-7 bench showed stateful gates dominated by state-store COMMIT
    * time (q95: 86 s of summed commit across store instances vs 6 s of
    * addBatch compute), and commits to the disk-backed java.io.tmpdir
    * swing 2-3x with unrelated disk pressure. On a cluster this is the
    * "checkpoint to local SSD / fast DFS" choice; state volume is
    * watermark-bounded (MBs), never corpus-sized.
    */
  def fastDir(prefix: String): Path = Files.createTempDirectory(fastRoot, prefix)

  /** Remove a staging directory as soon as it is no longer needed (the
    * shutdown hook is the backstop, not the primary cleanup path).
    */
  def discard(p: Path): Unit = deleteRecursively(p)

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try
        walk
          .sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(q => Files.deleteIfExists(q))
      finally walk.close()
    }
}
