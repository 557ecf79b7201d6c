package graft.core

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** Per-invocation temp directories that are cleaned up at JVM exit.
  *
  * Operators stage artifacts (format round-trips, stream file sinks,
  * saved indexes, binary-asset stores) into UNIQUE directories so a
  * re-run can never overwrite a store a still-held lazy frame points
  * at. LIFETIME CONTRACT: a directory lives until (a) JVM exit,
  * (b) an explicit [[release]], or (c) [[keepPerPrefix]] NEWER
  * directories exist for the same call-site prefix — so a lazy frame
  * must be consumed before its creating call site runs 8 more times
  * (in practice: within the same benchmark round / query invocation;
  * the pre-reaping design held dirs forever and leaked a full staged
  * copy per invocation in long-lived processes). */
object RunTemp {

  // (exact creating prefix, path): grouping by the recorded prefix —
  // NOT by name.startsWith — so "graft_io_" can never reap a
  // different call site's "graft_io_orc_" dirs.
  private val created = ArrayBuffer.empty[(String, Path)]

  /** Default most-recent directories kept per prefix; older siblings
    * are reaped on the next [[dir]] call with that exact prefix. Far
    * above the number of same-prefix artifacts any single round
    * holds live frames over. */
  private val keepPerPrefix = 8

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      created.synchronized { created.foreach(e => deleteRecursively(e._2)) }))

  /** Create a unique directory under the JVM tmpdir, registered for
    * recursive deletion at JVM shutdown; reaps same-prefix dirs beyond
    * the `keep` newest (see the lifetime contract above). A call site
    * that holds MANY lazy frames over artifacts of one prefix should
    * pass its own `keep` rather than rely on the default. Every reap
    * is logged with prefix and path so a later FileNotFound from a
    * frame held past the contract is attributable to the reap that
    * caused it instead of looking like data loss. */
  def dir(prefix: String, keep: Int = keepPerPrefix): String = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    hookInstalled
    val p = Files.createTempDirectory(prefix)
    val toReap = created.synchronized {
      created += ((prefix, p))
      val same = created.filter(_._1 == prefix)
      if (same.length > keep) {
        val old = same.dropRight(keep)
        created --= old
        old.toList.map(_._2)
      } else Nil
    }
    toReap.foreach { old =>
      System.err.println(
        s"[RunTemp] reaping '$prefix' dir beyond $keep-newest: $old " +
          "(a lazy frame still reading it will fail at action time)")
      deleteRecursively(old)
    }
    p.toString
  }

  /** Explicitly delete a directory created by [[dir]] whose contents
    * the caller KNOWS are fully drained (every frame reading it has
    * been collected/materialized). No-op for paths this JVM didn't
    * create — never deletes arbitrary input. */
  def release(path: String): Unit = {
    val target = created.synchronized {
      val i = created.indexWhere(_._2.toString == path)
      if (i < 0) None else Some(created.remove(i)._2)
    }
    target.foreach(deleteRecursively)
  }

  private[graft] def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
      finally s.close()
    }
}
