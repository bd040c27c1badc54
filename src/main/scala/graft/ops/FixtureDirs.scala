package graft.ops

/** Pid-scoped on-disk FIXTURE trees for the registered queries that
  * exercise a real write→read round trip (the `multimodal_manifest`
  * binaryFile ingest; the `optimize_roundtrip` clustered rewrite).
  * Every roundtrip query shares this ONE lifecycle contract instead of
  * growing its own:
  *
  *  - one tree per (prefix, scale-factor dir, PROCESS): sf keeps Verify
  *    (sf0.01) and Bench (sf0.1) apart; the pid keeps a solo
  *    arbitration re-run from deleting the tree a concurrently-running
  *    full bench is mid-scan on (a shared tree's rebuild sweep would
  *    race the other process's file listing into a spurious red).
  *    Within one process the rebuild is sequential and safe.
  *  - LIFECYCLE: pid-suffixed trees would otherwise accumulate one per
  *    JVM forever — this process's trees are removed by a shutdown
  *    hook, and each call sweeps any sibling `<prefix>_*_p<pid>` tree
  *    whose owning process is DEAD (`ProcessHandle.of` — portable
  *    liveness), so crashes don't leak either. Live siblings are never
  *    touched — that's the race the pid suffix exists to prevent.
  */
object FixtureDirs {

  /** The fixture location for (prefix, sf dir); registers this tree for
    * shutdown cleanup and sweeps dead siblings of the SAME prefix. */
  def dir(prefix: String, sfDir: String): String = {
    val root = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val mine = root.resolve(prefix + "_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_") + "_p" +
      ProcessHandle.current().pid())
    registerFixtureCleanup(mine)
    sweepDeadFixtureTrees(root, prefix)
    mine.toString
  }

  def rmTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => try java.nio.file.Files.delete(f) catch {
          case _: java.io.IOException => ()
        })
      finally s.close()
    }

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  private def registerFixtureCleanup(p: java.nio.file.Path): Unit =
    if (cleanupRegistered.add(p))
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(p)))

  private def sweepDeadFixtureTrees(root: java.nio.file.Path,
                                    prefix: String): Unit = {
    val pat = (java.util.regex.Pattern.quote(prefix) + "_.*_p(\\d+)").r
    val self = ProcessHandle.current().pid()
    try {
      val s = java.nio.file.Files.list(root)
      try s.forEach { p =>
        p.getFileName.toString match {
          case pat(pid) if pid.toLong != self &&
            ProcessHandle.of(pid.toLong).isEmpty => rmTree(p)
          case _ => ()
        }
      } finally s.close()
    } catch { case _: java.io.IOException => () }
  }
}
