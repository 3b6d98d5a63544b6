package graft.util

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Crash-safe replacement of a persisted directory: the new contents are
  * materialized in full in a stage sibling ([[stageFor]]) — while the old
  * files still exist, so they may be computed FROM them — and then
  * swapped into place ([[promote]]). The [[graft.graph.GraphStore.save]]
  * idiom, extracted; [[PersistedIndex]] writes every index through it.
  * A kill before the swap leaves the old directory untouched; a kill
  * inside the two-rename swap leaves it in the `.swap-<name>-old-<uuid>`
  * aside, which the next [[stageFor]] renames back; and every rename
  * result is CHECKED (Hadoop FileSystems report most failures by
  * returning false, not throwing).
  *
  * SINGLE WRITER PER TARGET, by contract: the orphan sweep reclaims every
  * `.swap-<name>-*` sibling — including a CONCURRENT writer's in-flight
  * stage for the same target — so two simultaneous writers of one target
  * can destroy each other's staged data. This matches the engine-wide
  * posture ([[graft.graph.GraphStore]] documents the same assumption,
  * inherited from the reference's single-writer Flask server); coordinate
  * externally (a lock file, a scheduler) before ever pointing two writers
  * at one target. */
object StageSwap {

  /** The ONE copy of the swap-sibling prefix — the sweep, the stage
    * name and the aside name must agree or crashed promotes leak
    * copies the sweep never reclaims. */
  private def prefix(target: Path): String = s".swap-${target.getName}-"

  /** Recover or sweep this target's leftovers from earlier crashed
    * writes and mint a fresh stage path. A missing target with an aside
    * next to it was killed between the two renames of [[promote]]: the
    * aside is renamed back. Every other sibling with the target's
    * prefix is an orphan (a stage or an aside of a finished swap) and
    * is deleted; the prefix scopes the sweep to THIS target, never a
    * sibling target's write under the same parent. The caller writes
    * the entire new contents under the returned path, then publishes
    * it ([[promote]], or a rename of its own). */
  def stageFor(fs: FileSystem, target: Path): Path = {
    val pre = prefix(target)
    val siblings = try fs.listStatus(target.getParent) catch {
      case _: java.io.FileNotFoundException => Array.empty[FileStatus]
    }
    val mine = siblings.toSeq.map(_.getPath).filter(_.getName.startsWith(pre))
    mine.find(_.getName.startsWith(s"${pre}old-"))
      .filterNot(_ => fs.exists(target))
      .foreach(aside => require(fs.rename(aside, target),
        s"could not restore $target from $aside"))
    // a restored aside is gone already; deleting its old path is a no-op
    mine.foreach(fs.delete(_, true))
    new Path(target.getParent,
      s"${pre}stage-${java.util.UUID.randomUUID()}")
  }

  /** Swap a fully-materialized stage into place via a retained aside
    * dir, checking EVERY rename result — Hadoop FileSystems report
    * most failures by returning false, and a silent false after the
    * old artifact was dropped would lose it. */
  def promote(fs: FileSystem, stage: Path, target: Path): Unit = {
    val tag = java.util.UUID.randomUUID()
    val old = new Path(target.getParent,
      s"${prefix(target)}old-$tag")
    if (fs.exists(target))
      require(fs.rename(target, old), s"could not set aside $target")
    require(fs.rename(stage, target),
      s"could not promote staged rewrite into $target " +
        s"(previous artifact retained at $old)")
    fs.delete(old, true)
    ()
  }
}
