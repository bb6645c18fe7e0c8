package graft.store

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Atomic directory replace shared by the chunk table and the index stores:
  * write to a tmp dir OUTSIDE the target (a tmp INSIDE a partitioned table
  * would be parsed as a partition value), rename the old target aside,
  * rename tmp into place, drop the old — every rename checked, the original
  * restored on failure. The tmp/old siblings of `base` are named
  * `<base>-swap-<nano>` / `<base>-old-<nano>`; a crash between the renames
  * leaves them behind for [[sweepDebris]]. */
private[graft] object DirSwap {

  /** age below which debris may belong to an in-flight swap (the
    * reference's 60 s version-cleanup threshold, `src/vectordb/types.ts:15-16`) */
  val DebrisAgeMs = 60000L

  /** fresh (tmp, old) sibling names of `base` */
  private def siblings(base: String): (String, String) = {
    val nano = System.nanoTime()
    (s"$base-swap-$nano", s"$base-old-$nano")
  }

  /** `base` anchors the tmp/old siblings (the store root); `write` receives
    * the tmp path and must produce the complete new directory there. */
  def swapInto(fs: FileSystem, base: String, target: String)
              (write: String => Unit): Unit = {
    val (tmp, old) = siblings(base)
    write(tmp)
    val tp = new HPath(target)
    val parent = tp.getParent
    if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
    if (fs.exists(tp) && !fs.rename(tp, new HPath(old)))
      throw new java.io.IOException(s"swap failed: could not move $target aside")
    if (!fs.rename(new HPath(tmp), tp)) {
      if (fs.exists(new HPath(old))) fs.rename(new HPath(old), tp)
      throw new java.io.IOException(s"swap failed: could not move $tmp into place")
    }
    if (fs.exists(new HPath(old))) fs.delete(new HPath(old), true)
  }

  /** delete `base`'s swap debris last modified more than `olderThanMs` ago.
    * Completed swaps clean up after themselves; the age gate keeps an
    * in-flight swap's tmp/old dirs. */
  def sweepDebris(fs: FileSystem, base: String, olderThanMs: Long): Unit = {
    val bp = new HPath(base)
    val parent = bp.getParent
    if (parent != null && fs.exists(parent)) {
      val prefixes = Seq(bp.getName + "-swap-", bp.getName + "-old-")
      val cutoff = System.currentTimeMillis() - olderThanMs
      fs.listStatus(parent)
        .filter(s => prefixes.exists(s.getPath.getName.startsWith))
        .foreach(s => if (s.getModificationTime < cutoff) fs.delete(s.getPath, true))
    }
  }
}
