package graft.util

/** /tmp staging directories for the pay-once write paths (csv/orc round
  * trips, partitioned/bucketed sinks, schema-merge fixtures) and the
  * key-local persisted indexes and models.
  *
  * One definition of the naming recipe: the whole sanitized absolute
  * sfDir path + pid, so sf dirs that differ anywhere in their path never
  * share a directory (two dirs that merely end in the same name would
  * otherwise screen a delta against the WRONG corpus index) and
  * concurrent Verify/Bench runs on the same machine can never race on an
  * overwrite-then-read of a shared directory. Every dir is registered
  * for recursive deletion at JVM exit so repeated runs don't accrete
  * copies under /tmp.
  */
object Staging {

  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach(p => delete(new java.io.File(p)))))

  /** Staging path for (key, sfDir), unique per JVM, cleaned at exit. */
  def dir(key: String, sfDir: String): String = {
    val sf = new java.io.File(sfDir).getAbsolutePath
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val p = s"/tmp/graft_${key}_${sf}_${java.lang.ProcessHandle.current.pid}"
    hookInstalled
    dirs.add(p)
    p
  }

  private def delete(f: java.io.File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(delete)
    f.delete()
    ()
  }
}
