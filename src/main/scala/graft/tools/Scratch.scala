package graft.tools

import java.io.File
import java.nio.file.Files

/** Crash-safe ownership of benchmark scratch directories.
  *
  * [[graft.Bench]] materializes ~20 GiB of synthetic input (plus shuffle
  * scratch) under tmpfs per run and deletes it on normal exit — but tmpfs
  * pages ARE host RAM, so a run killed mid-flight (OOM, driver timeout,
  * SIGKILL) leaks its scratch into every later run's memory budget. Two
  * stale 800k-clip inputs were enough to OOM a subsequent bench on this
  * 125 GiB box. A shutdown hook covers SIGTERM; nothing in-process can
  * cover SIGKILL/OOM — so each scratch dir is stamped with its owner's
  * PID, and the NEXT bench sweeps any `graft-bench-*` dir whose owner is
  * gone (no stamp = pre-stamp era or a crash before stamping = stale too).
  */
object Scratch {

  /** The scratch-dir name prefix owned by this mechanism. Deliberately NOT
    * a bare "graft-" — manually materialized inputs (e.g. a reusable
    * /dev/shm/graft-in800k) must survive sweeps. */
  private val prefix = "graft-bench-"

  /** Stamp `dir` as owned by this JVM. */
  def claim(dir: File): Unit =
    try Files.writeString(dir.toPath.resolve("owner.pid"),
      ProcessHandle.current().pid().toString)
    catch { case e: Throwable => System.err.println(s"[scratch] claim $dir: $e") }

  private def ownerAlive(dir: File): Boolean =
    try {
      val pid = Files.readString(dir.toPath.resolve("owner.pid")).trim.toLong
      val h = ProcessHandle.of(pid)
      h.isPresent && h.get().isAlive
    } catch { case _: Throwable => false }

  /** Delete every `graft-bench-*` directory under `root` whose owning
    * process is dead. Returns the number of directories removed. */
  def sweepStale(root: File): Int = {
    val stale = Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName.startsWith(prefix) && !ownerAlive(d))
    stale.foreach { d =>
      System.err.println(s"[scratch] sweeping stale $d (owner dead)")
      deleteRec(d)
    }
    stale.length
  }

  /** Delete `f` and, if it is a directory, everything under it. */
  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
    ()
  }

  /** Sweep the roots a bench run can scatter scratch into. */
  def sweepDefaultRoots(): Unit = {
    val shm = new File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) sweepStale(shm)
    sweepStale(new File(System.getProperty("java.io.tmpdir", "/tmp")))
    ()
  }
}
