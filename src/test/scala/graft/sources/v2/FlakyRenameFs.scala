package graft.sources.v2

import graft.Fixture

import java.net.URI
import java.util.concurrent.{ConcurrentLinkedQueue, CopyOnWriteArrayList}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}

/** A local filesystem under the `flaky:` scheme whose `rename` returns
  * false, without moving anything, when [[FlakyRenameFs.fails]] says so —
  * how some filesystems report a failed rename instead of throwing. It
  * also logs its metadata and open calls by path, so a spec can observe
  * what a query did to the files of its own directory
  * ([[FlakyRenameFs.callsUnder]]). */
class FlakyRenameFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("flaky:///")
  override def getScheme: String = "flaky"
  override def rename(src: Path, dst: Path): Boolean =
    if (FlakyRenameFs.fails(src)) false else super.rename(src, dst)
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    logged("open", f)(super.open(f, bufferSize))
  override def getFileStatus(f: Path): FileStatus =
    logged("getFileStatus", f)(super.getFileStatus(f))
  override def exists(f: Path): Boolean = logged("exists", f)(super.exists(f))
  override def listStatus(f: Path): Array[FileStatus] =
    logged("listStatus", f)(super.listStatus(f))

  // the local filesystem's own nested calls (a listing stats every child)
  // are not calls of the caller's
  private def logged[T](op: String, f: Path)(call: => T): T =
    if (FlakyRenameFs.nested.get) call
    else {
      FlakyRenameFs.record(op, f)
      FlakyRenameFs.nested.set(true)
      try call finally FlakyRenameFs.nested.set(false)
    }
}

object FlakyRenameFs {
  @volatile var fails: Path => Boolean = _ => false

  private val nested = ThreadLocal.withInitial[Boolean](() => false)

  private val watches =
    new CopyOnWriteArrayList[(String, ConcurrentLinkedQueue[(String, String)])]

  private def record(op: String, p: Path): Unit = {
    val at = p.toUri.getPath
    watches.forEach { case (dir, log) =>
      if (at == dir || at.startsWith(dir + "/")) log.add((op, at))
    }
  }

  /** A fresh directory on this filesystem (a [[Fixture.dir]] under the
    * `flaky:` scheme), with the scheme registered in `conf`. */
  def dir(conf: Configuration): String = {
    conf.set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    conf.setBoolean("fs.flaky.impl.disable.cache", true)
    "flaky:" + Fixture.dir()
  }

  /** The calls `body` made on paths under `dir`, as (operation, path),
    * whichever thread made them. */
  def callsUnder(dir: String)(body: => Unit): Seq[(String, String)] = {
    val watch = (new Path(dir).toUri.getPath, new ConcurrentLinkedQueue[(String, String)])
    watches.add(watch)
    try body finally watches.remove(watch)
    watch._2.asScala.toSeq
  }

  /** Opens of manifest and manifest-segment files: metadata parses, since
    * a cached manifest is validated by a status call and never reopened. */
  def metadataOpens(calls: Seq[(String, String)]): Int = calls.count { case (op, p) =>
    val name = p.substring(p.lastIndexOf('/') + 1)
    op == "open" && (name.startsWith("_manifest-") || name.startsWith("_seg-"))
  }

  /** Calls on a table's MV-dependents registry (`_mvdeps`, `_mvdeps.d`):
    * the MV-rewrite probe's filesystem work. */
  def mvDepsCalls(calls: Seq[(String, String)]): Int =
    calls.count { case (_, p) => p.split('/').exists(n => n == "_mvdeps" || n == "_mvdeps.d") }

  /** Uncached MV-rewrite probes: each reads one table's registry and
    * checks its `_mvdeps` file exactly once. */
  def mvProbes(calls: Seq[(String, String)]): Int =
    calls.count { case (_, p) => p.endsWith("/_mvdeps") }
}
