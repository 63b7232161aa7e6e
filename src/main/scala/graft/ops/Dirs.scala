package graft.ops

import java.io.File

/** Local directory helpers shared by the fixture builders, the stream
  * slice cache and the scratch-dir cleanups. */
object Dirs {
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Build the content-keyed directory `path` once and return `path`.
    * `fill` writes into a fresh sibling `<name>.tmp` that is then renamed
    * into place, so readers never see a half-built directory. Builds of
    * one path are serialized inside this JVM; across JVMs the first
    * rename wins and a loser deletes its own copy (the bytes are
    * identical, so the race is benign). */
  def buildOnce(path: String)(fill: File => Unit): String = {
    val out = new File(path)
    locks.computeIfAbsent(out.getAbsolutePath, _ => new Object).synchronized {
      if (!out.exists()) {
        val tmp = new File(out.getParent, out.getName + ".tmp")
        deleteRec(tmp)
        tmp.mkdirs()
        fill(tmp)
        if (!tmp.renameTo(out)) deleteRec(tmp) // lost a build race: theirs won
      }
    }
    path
  }

  /** Write `bytes` to `dir/name`, creating the parent of a nested name
    * ("pax/paxshard_000.tar"). */
  def write(dir: File, name: String, bytes: Array[Byte]): Unit = {
    val f = new File(dir, name)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, bytes)
    ()
  }

  /** Delete `f` and, for a directory, everything under it. */
  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
    ()
  }
}
