package graft.queries

/** One cached scratch directory per logical key per JVM — tmpfs-backed
  * when available (/dev/shm: this sandbox's single virtual disk is the
  * contention point, not the plan), cleaned up at JVM exit. Shared by
  * the streaming input rewrites so repeat Bench/Verify invocations
  * reuse ONE dir per key instead of leaking a tempdir + shutdown hook
  * each. */
private[queries] object TmpDirs {
  private val dirs = scala.collection.concurrent.TrieMap.empty[String, String]

  private def mk(prefix: String): String = {
    val base = if (new java.io.File("/dev/shm").isDirectory)
      java.nio.file.Paths.get("/dev/shm") else java.nio.file.Paths.get("/tmp")
    val d = java.nio.file.Files.createTempDirectory(base, prefix).toString
    sys.addShutdownHook(
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    d
  }

  def cached(key: String, prefix: String): String =
    dirs.getOrElseUpdate(key, mk(prefix))

  /** A FRESH scratch dir every call (still tmpfs-backed + exit-cleaned,
    * NOT entered in the dedup cache — a one-shot dir has no key to hit).
    * For stateful-on-disk work like the incremental streaming build: a
    * cached dir would make a repeat invocation resume from the previous
    * run's checkpoint and skip the stream entirely — correct for resume,
    * wrong for pricing the evidence in a bench rep. Bench reps therefore
    * hold one such dir each until JVM exit (~the streaming build's
    * output footprint; bounded by reps and deliberately traded for
    * rep-cold pricing). */
  def fresh(prefix: String): String = mk(prefix)
}
