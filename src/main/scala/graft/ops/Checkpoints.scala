package graft.ops

import org.apache.spark.SparkContext

/** Shared checkpoint-dir bootstrap for the iterative operators
  * ([[Components]], [[PageRank]]): sets a session checkpoint dir ONCE if
  * none is configured, and — because reliable checkpoint files are only
  * reclaimed when the ContextCleaner GCs their RDD references
  * (`spark.cleaner.referenceTracking.cleanCheckpoints`, see
  * [[graft.Sessions]]) — registers one JVM shutdown hook that deletes the
  * auto-created temp dir, so a long-lived session running the registry
  * repeatedly cannot accumulate orphaned checkpoint data for the JVM's
  * lifetime (ADVICE r10). A user-configured checkpoint dir (production:
  * shared storage set before calling in) is never touched: the hook is
  * registered only for the directory THIS helper created.
  */
object Checkpoints {
  // EVERY auto-created dir is tracked (a second SparkContext in the same
  // JVM — sequential test sessions — gets a fresh temp dir; hooking only
  // the first would orphan the rest). One hook drains the whole set.
  private val created = scala.collection.mutable.ListBuffer.empty[java.io.File]
  private var hooked = false

  /** Ensure `sc` has a checkpoint dir, creating (and registering cleanup
    * for) a local temp dir if the session has none. */
  def ensureDir(sc: SparkContext): Unit = this.synchronized {
    if (sc.getCheckpointDir.isEmpty) {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
      sc.setCheckpointDir(dir.getAbsolutePath)
      created += dir
      if (!hooked) {
        hooked = true
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          Checkpoints.synchronized(created.toList).foreach(Dirs.deleteRec)))
      }
    }
  }
}
