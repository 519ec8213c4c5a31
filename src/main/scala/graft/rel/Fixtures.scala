package graft.rel

import java.nio.file.{Files, Path}

/** Crash/concurrency-safe on-disk fixture creation. The old
  * exists-check-then-write-in-place pattern had a trap: a killed JVM
  * (or a second sbt process racing the first) could leave a
  * half-written fixture that every later run trusts forever — digest
  * mismatches that look like engine bugs until the directory is
  * deleted by hand. Writers now fill a process-private sibling and
  * publish it with a single atomic rename; losers of the rename race
  * discard their copy and use the winner's.
  */
object Fixtures {

  /** Run `write` against a temp sibling of `target` and atomically
    * rename it into place, unless `target` already exists (fully —
    * partial states never carry the final name). Returns `target`. */
  def ensure(target: Path)(write: Path => Unit): Path = {
    if (Files.exists(target)) return target
    val tmp = target.resolveSibling(
      s"${target.getFileName}.tmp-${ProcessHandle.current().pid()}")
    deleteRecursively(tmp) // stale leftover from a crashed prior attempt
    write(tmp)
    // plain move, NOT ATOMIC_MOVE: on this same-directory rename both
    // are rename(2), but ATOMIC_MOVE silently REPLACES an existing
    // regular-file target (only directories fail ENOTEMPTY) — the
    // race loser would overwrite the winner instead of discarding.
    // The no-replace form throws FileAlreadyExistsException for both
    // kinds, which routes every loser through the discard branch.
    try Files.move(tmp, target)
    catch {
      // another process published first (or the rename cannot land
      // because the name now exists): keep theirs, drop ours
      case _: java.nio.file.FileSystemException if Files.exists(target) =>
        deleteRecursively(tmp)
    }
    target
  }

  private def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.forEach(deleteRecursively)
      finally children.close() // directory stream holds an fd until closed
    }
    Files.delete(p)
  }
}
