package graft.engine

import java.io.File

/** Where a graft session puts Spark's shuffle/spill scratch
  * (`spark.local.dir`). [[GraftSession]] resolves it once per JVM, so
  * every JVM that places scratch on tmpfs gets the same headroom
  * check, its own directory and the same fallback.
  *
  * Shuffle scratch goes on the fastest local storage available (r18,
  * guide §2.1: local disk bandwidth for shuffle files is often the
  * binding limit — measured, a tiny one-exchange action went 0.385 s →
  * 0.234 s median moving scratch off the VM's disk). On a real cluster
  * this is the NVMe-local-disk placement decision; scratch placement
  * changes where temp bytes live, never what is computed.
  */
object ScratchDir {
  /** Free space a tmpfs must keep for graft to default onto it:
    * bench-scale shuffles are MBs, and 8 GiB of slack keeps an
    * unexpectedly large spill from ENOSPC-ing mid-run (r18 advice #1). */
  private val HeadroomBytes: Long = 8L * 1024 * 1024 * 1024

  private val Prefix = "graft-shuffle-"

  /** `SPARK_GRAFT_LOCAL_DIR` decides: `stock` → None (Spark's default
    * dir), any other non-empty value → that dir. Unset → a per-process
    * dir on `/dev/shm` when it is writable with [[HeadroomBytes]] free,
    * else None. */
  def resolve(): Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").filter(_.nonEmpty) match {
      case Some("stock") => None
      case Some(d) => Some(d)
      case None => perProcess(new File("/dev/shm"), HeadroomBytes)
    }

  /** `root/graft-shuffle-<pid>` for this JVM when `root` is a writable
    * dir with more than `headroom` bytes usable, else None. Clears the
    * dirs of dead processes first; Spark creates the own dir. */
  def perProcess(root: File, headroom: Long): Option[String] =
    if (!(root.isDirectory && root.canWrite && root.getUsableSpace > headroom)) None
    else {
      removeDead(root)
      Some(new File(root, Prefix + ProcessHandle.current.pid).getPath)
    }

  /** Delete every `graft-shuffle-<pid>` under `root` whose pid is not a
    * live process: a crashed run's shuffle files must not hold RAM
    * across sessions, and a live JVM's must never be deleted under it. */
  private def removeDead(root: File): Unit =
    Option(root.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      val pid =
        if (f.getName.startsWith(Prefix)) f.getName.drop(Prefix.length).toLongOption.filter(_ > 0)
        else None
      if (pid.exists(p => !ProcessHandle.of(p).filter(_.isAlive).isPresent))
        try rm(f)
        catch { case scala.util.control.NonFatal(_) => () }
    }

  private def rm(f: File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
}
