package graft

import java.nio.file.{Files, Path, Paths}

/** Per-JVM staging directories for derived-table scaffolding (ORC/JSONL/
  * binary-file/compacted copies of the fixture tables). Same ownership
  * discipline as the streaming staged event log: everything lives under
  * `<root>/jvm-<pid>/`, and each call first purges `jvm-*` dirs whose
  * owning process is gone — so repeated bench/verify/dev sessions cannot
  * accumulate orphans (the binaryFile staging alone writes one file per
  * document; left in a shared temp dir that class of leak is measured in
  * inodes, not megabytes). The root lives under the checkout's `target/`
  * so a clean build also reclaims everything. */
object StageDirs {
  /** `<checkout>/target/<name>`, derived from the working directory
    * (sbt forks runs and tests in the project base dir) so a clone or
    * worktree elsewhere writes under its own `target/`. */
  def target(name: String): Path =
    Paths.get(sys.props.getOrElse("user.dir", "."), "target", name)

  private def root: Path =
    sys.props.get("graft.stage.tmp").map(Paths.get(_)).getOrElse(target("stage-tmp"))

  /** Streaming staged-log/run/checkpoint root — its own sysprop and
    * directory so streaming scaffolding (staged event log, checkpoints)
    * and batch format staging stay independently re-rootable, but ONE
    * ownership/purge idiom (this object) governs both trees. */
  private[graft] def streamRoot: Path =
    sys.props.get("graft.stream.tmp").map(Paths.get(_)).getOrElse(target("stream-tmp"))

  /** Recursive delete; each Files.list stream is closed (try/finally) so
    * a deep purge doesn't leak one fd per directory visited. */
  private[graft] def rm(q: Path): Unit = {
    if (Files.isDirectory(q)) {
      val s = Files.list(q)
      try s.forEach(rm(_)) finally s.close()
    }
    Files.deleteIfExists(q)
  }

  /** Content signature of a parquet table directory: name+size+mtime of
    * every file INSIDE it (sorted), not the directory inode's mtime —
    * a fixture regenerated within the directory-mtime granularity, or
    * part files rewritten without touching the directory entry, must
    * invalidate a memo keyed on it. Falls back to the path's own stats
    * when it isn't a directory. */
  private[graft] def srcSig(src: String): String = {
    val d = new java.io.File(src)
    val files = Option(d.listFiles()).map(_.filter(_.isFile).sortBy(_.getName))
      .getOrElse(Array(d))
    files.map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(";")
  }

  /** Fresh `<root>/jvm-<pid>/<prefix>…` dir under the batch staging root. */
  def fresh(prefix: String): Path = fresh(root, prefix)

  /** Fresh `<rootDir>/jvm-<pid>/<prefix>…` dir; purges dead owners first. */
  def fresh(rootDir: Path, prefix: String): Path = {
    val r = Files.createDirectories(rootDir)
    val myPid = ProcessHandle.current().pid()
    try {
      val listing = Files.list(r)
      try listing.forEach { p =>
        val name = p.getFileName.toString
        // liveness via ProcessHandle (portable): /proc/<pid> exists only
        // on Linux — probing it on macOS would call every other pid dead
        // and delete a concurrently running JVM's staging mid-run
        val ownerGone = name.startsWith("jvm-") &&
          name.stripPrefix("jvm-").toLongOption.exists(pid =>
            pid != myPid && !ProcessHandle.of(pid).isPresent)
        if (Files.isDirectory(p) && ownerGone)
          try rm(p) catch { case _: Throwable => () }
      } finally listing.close()
    } catch { case _: Throwable => () }
    val mine = Files.createDirectories(r.resolve(s"jvm-$myPid"))
    Files.createTempDirectory(mine, prefix)
  }
}
