package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The one fixture helper: a fresh directory, and a private session to run
  * a table-lifecycle body on.
  *
  * Directories live under one per-JVM root that is deleted when the JVM
  * exits, never sooner: a fixture may return a lazy Dataset whose scan of
  * the directory runs after the body has returned. No directory is reused
  * or wiped, so concurrent fixtures (threads or JVMs) never share files. */
object Fixture {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-fixtures-")
    sys.addShutdownHook(deleteTree(r))
    r
  }

  /** A new, empty directory under the per-JVM root. */
  def dir(): String = Files.createTempDirectory(root, "f").toString

  /** Run `body` on a private session of `s` with a fresh [[dir]], after
    * registering each of `catalogs` on that session as a
    * [[graft.sources.v2.GraftCatalog]] whose base is the directory.
    *
    * The private session (`s.newSession()`) shares `s`'s SparkContext,
    * extensions and cache, and has its own SQL conf, catalogs, temp views
    * and streams: confs the body sets never reach `s`, and a catalog name
    * always resolves to this call's directory (Spark caches a catalog
    * plugin by name for the life of a session, so re-registering a name on
    * one session would keep serving the first directory). The body runs
    * with the private session active on this thread, so code that reads
    * the active session's conf (a plan's statistics, for one) sees the
    * confs the body set. The session is never stopped — stopping it would
    * stop the shared SparkContext. */
  def apply[T](s: SparkSession, catalogs: String*)(body: (SparkSession, String) => T): T = {
    val session = s.newSession()
    val d = dir()
    catalogs.foreach { c =>
      session.conf.set(s"spark.sql.catalog.$c", classOf[graft.sources.v2.GraftCatalog].getName)
      session.conf.set(s"spark.sql.catalog.$c.base", d)
    }
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(session)
    try body(session, d)
    finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  private def deleteTree(p: Path): Unit =
    try {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { q =>
        try Files.deleteIfExists(q) catch { case _: java.io.IOException => () }
      } finally paths.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
}
