package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}

/** The lake's crash-safe replace: write `tmp`, move the live copy to
  * `aside`, move `tmp` into place, drop `aside`. HDFS-like filesystems have
  * no atomic multi-dir swap, so this is crash-safe for DATA rather than
  * atomic: at every instant the full copy exists at `live` or at `aside`,
  * and nothing is deleted before its replacement is in place. Hadoop
  * signals a failed rename by returning false, so every rename is checked.
  *
  * Recovery is split by role. A WRITER that finds the data only at `aside`
  * ([[promote]]) moves it back before writing: otherwise its write would
  * recreate `live` with only new rows and the next install would delete
  * the only pre-crash copy. A READER never renames ([[liveOrAside]]): it
  * cannot tell a crashed swap from a live one inside its rename window,
  * and a promote racing the writer's second rename nests `tmp` inside the
  * restored copy (a silently lost update).
  */
private[graft] object Swap {

  /** Replace `live` with `tmp`. The aside is cleared only when a live copy
    * is about to move into it: after a crash left `aside` as the only copy,
    * an unconditional clear would delete it.
    */
  def install(fs: FileSystem, tmp: Path, live: Path, aside: Path, what: String): Unit = {
    if (fs.exists(live)) {
      fs.delete(aside, true)
      if (!fs.rename(live, aside)) throw new java.io.IOException(s"$what: could not move $live aside")
    }
    if (!fs.rename(tmp, live)) {
      val restored = fs.exists(aside) && fs.rename(aside, live)
      throw new java.io.IOException(s"$what: could not move new data into $live " +
        (if (restored) "(rolled back)" else s"(ROLLBACK FAILED — data is at $aside, recover manually)"))
    }
    fs.delete(aside, true)
  }

  /** Writer-side recovery: data stranded at `aside` with no `live` copy
    * moves back. Only a writer holding the single-writer lease may call it.
    */
  def promote(fs: FileSystem, aside: Path, live: Path): Unit =
    if (!fs.exists(live) && fs.exists(aside) && !fs.rename(aside, live))
      throw new java.io.IOException(s"found crashed swap at $aside but could not promote it back to $live")

  /** Read-only fallback: the live copy, else a crashed swap's aside. */
  def liveOrAside(fs: FileSystem, live: Path, aside: Path): Option[Path] =
    Seq(live, aside).find(fs.exists)
}
