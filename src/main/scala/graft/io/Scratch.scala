package graft.io

/** Process-scoped scratch root for the temp tables, sinks and streaming
  * checkpoints the declared queries write and re-read, and for a local
  * session's shuffle blocks ([[graft.LocalSpark]]) (guide §6: scratch I/O
  * belongs on the fastest local storage available — on a production
  * executor its local SSDs; on a single box /dev/shm, because the one
  * shared disk is measurement environment, not job property).
  *
  * Parameterised for other deployments: `SPARK_GRAFT_SCRATCH_DIR`
  * overrides the root; when /dev/shm is absent (or the override unset on
  * a tmpfs-less host) it falls back to `java.io.tmpdir`, so behaviour is
  * identical to the plain `Files.createTempDirectory` it replaces.
  *
  * Every directory lives under one per-process root that a JVM shutdown
  * hook removes recursively — bounded residency, nothing keyed on the
  * input data survives the process (no cross-run reuse is possible). A
  * killed process never runs its hook, so the first use of the root also
  * removes the roots of processes that are gone ([[sweepDead]]).
  */
object Scratch {
  private lazy val root: java.nio.file.Path = {
    val base = sys.env.get("SPARK_GRAFT_SCRATCH_DIR")
      .map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isDirectory(shm) &&
            java.nio.file.Files.isWritable(shm)) Some(shm.resolve("graft-scratch"))
        else None
      }
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    sweepDead(base)
    val p = base.resolve(s"pid-${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(p)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p.toFile)))
    p
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** Deletes the `pid-<n>` dirs under `base` whose process `n` is no longer
    * alive. */
  def sweepDead(base: java.nio.file.Path): Unit =
    Option(base.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case s"pid-$n" if n.toLongOption.exists(ProcessHandle.of(_).isEmpty) =>
          deleteRecursively(f)
        case _ =>
      }
    }

  /** A fresh scratch directory (drop-in for
    * `java.nio.file.Files.createTempDirectory(prefix)`). */
  def dir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(root, prefix)
}
