package graft.tools

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** [[Scratch]] — crash-safe bench-scratch ownership. No Spark needed. */
class ScratchSpec extends AnyFunSuite {

  private def mkRoot(): File =
    Files.createTempDirectory("scratch-spec").toFile

  private def mkScratch(root: File, name: String): File = {
    val d = new File(root, name)
    assert(d.mkdir())
    Files.writeString(new File(d, "payload").toPath, "x" * 64)
    d
  }

  test("sweep removes dirs with a dead owner and keeps live/foreign ones") {
    val root = mkRoot()
    try {
      val live = mkScratch(root, "graft-bench-clips-live")
      Scratch.claim(live) // stamped with THIS (alive) JVM's pid
      val dead = mkScratch(root, "graft-bench-clips-dead")
      // a pid that cannot be a live process (beyond pid_max)
      Files.writeString(new File(dead, "owner.pid").toPath, "999999999")
      val unstamped = mkScratch(root, "graft-bench-local-unstamped")
      val foreign = mkScratch(root, "someone-elses-dir") // wrong prefix
      val manual = mkScratch(root, "graft-in800k") // deliberate keeper prefix

      val n = Scratch.sweepStale(root)
      assert(n === 2) // dead + unstamped (crash-before-stamp counts stale)
      assert(live.isDirectory)
      assert(!dead.exists())
      assert(!unstamped.exists())
      assert(foreign.isDirectory)
      assert(manual.isDirectory)
    } finally Scratch.deleteRec(root)
  }

  test("claim writes this process's pid") {
    val root = mkRoot()
    try {
      val d = mkScratch(root, "graft-bench-claim")
      Scratch.claim(d)
      val pid = Files.readString(new File(d, "owner.pid").toPath).trim.toLong
      assert(pid === ProcessHandle.current().pid())
    } finally Scratch.deleteRec(root)
  }

  test("a garbage pid file counts as stale") {
    val root = mkRoot()
    try {
      val d = mkScratch(root, "graft-bench-garbage")
      Files.writeString(new File(d, "owner.pid").toPath, "not-a-pid")
      assert(Scratch.sweepStale(root) === 1)
      assert(!d.exists())
    } finally Scratch.deleteRec(root)
  }
}
