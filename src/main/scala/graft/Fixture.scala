package graft

import org.apache.spark.sql.SparkSession

/** A session-scoped entry fixture: a value built once per (session, sf
  * dir) and then reused by every entry that asks for it — a persisted
  * frame, a materialized table, an index warehouse, a trained model.
  * Each build gets its own emptied scratch directory,
  * `<scratch>/<name>_<hex(dir)>`, so two sf dirs in one session never
  * share files. Declaring a fixture registers it, and the declaration is
  * the one place that knows how to release it (`onRelease` unpersists
  * the frames a value holds); [[SparkEntry.releaseSessionCaches]] then
  * releases every fixture without a hand-kept list.
  */
private[graft] final class Fixture[V](val name: String,
    onRelease: V => Unit = (_: V) => ()) {
  private val built =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), V]
  Fixture.registered.add(this)

  /** The value for (s, dir); `build` runs on first use and gets the
    * fixture's emptied scratch directory.
    */
  def apply(s: SparkSession, dir: String)(build: String => V): V =
    built.getOrElseUpdate((s, dir), build(Fixture.freshDir(name, dir)))

  def isEmpty: Boolean = built.isEmpty

  def release(): Unit = {
    built.values.foreach(onRelease)
    built.clear()
  }
}

private[graft] object Fixture {
  private val registered =
    new java.util.concurrent.ConcurrentLinkedQueue[Fixture[_]]()

  def all: Seq[Fixture[_]] = {
    import scala.jdk.CollectionConverters._
    registered.asScala.toSeq
  }

  /** One scratch warehouse per JVM for every entry's files, removed on
    * JVM exit (and by [[SparkEntry.releaseSessionCaches]]).
    */
  lazy val scratch: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_").toString
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(dir)))
    dir
  }

  def deleteTree(root: String): Unit = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** `<scratch>/<name>`, emptied. */
  def freshDir(name: String): String = {
    val p = s"$scratch/$name"
    deleteTree(p)
    p
  }

  /** `<scratch>/<name>_<hex(dir)>`, emptied: the per-sf-dir form. */
  def freshDir(name: String, dir: String): String =
    freshDir(s"${name}_${java.lang.Integer.toHexString(dir.hashCode)}")
}
