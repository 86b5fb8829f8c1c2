package graft.io

import org.scalatest.funsuite.AnyFunSuite

class ScratchSpec extends AnyFunSuite {

  test("sweepDead removes the scratch dirs of dead processes only") {
    val base = java.nio.file.Files.createTempDirectory("graft-sweep")
    val exited = new ProcessBuilder("true").start()
    exited.waitFor()
    def mk(name: String) = {
      val d = java.nio.file.Files.createDirectories(base.resolve(name))
      java.nio.file.Files.writeString(d.resolve("part.parquet"), "x")
      d.toFile
    }
    val dead = mk(s"pid-${exited.pid()}")
    val live = mk(s"pid-${ProcessHandle.current().pid()}")
    val other = mk("pid-notanumber")
    Scratch.sweepDead(base)
    assert(!dead.exists())
    assert(live.exists() && other.exists())
  }
}
