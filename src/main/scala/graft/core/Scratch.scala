package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** The one scratch area: every staged copy of a dataset and every
  * rebuilt-per-call work directory lives under [[root]], in a sub-area keyed
  * by the dataset.
  *
  *  - [[dir]] names a sub-area by the dataset's basename plus a short hash of
  *    its canonical path, so two datasets that share a last path component
  *    never share state.
  *  - [[once]] builds a staged copy and records the dataset's [[stamp]] in a
  *    `_DONE` marker. A later call whose stamp differs (a table was
  *    rewritten) rebuilds instead of serving the old copy; a build that
  *    crashed left no marker and is redone from clean.
  *  - [[fresh]] is the rebuild-every-call form: the caller gets an empty dir.
  */
object Scratch {

  /** `${user.dir}/target/tmp` — the build's target dir under sbt's forked
    * `run`/`test`, and the parent of the session's warehouse dir.
    */
  val root: String = s"${sys.props("user.dir")}/target/tmp"

  private val locks = new ConcurrentHashMap[String, AnyRef]

  def canonical(sfDir: String): String = new java.io.File(sfDir).getCanonicalPath

  private def hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** The sub-area `sub` of the dataset at `sfDir`. */
  def dir(sub: String, sfDir: String): String = {
    val canon = canonical(sfDir)
    s"$root/$sub/${new java.io.File(canon).getName}-${hex(canon).take(10)}"
  }

  /** A stamp of the dataset's content without a Spark job: a hash of
    * (relative path, size, mtime) over every file of its tables, whether a
    * table is one parquet file or a directory of parts.
    */
  def stamp(sfDir: String): String = {
    val base = Paths.get(sfDir)
    val tables = Tables.names.map(t => base.resolve(s"$t.parquet")).filter(Files.exists(_))
    val entries = tables.flatMap { p =>
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    }.map(f => s"${base.relativize(f)}|${Files.size(f)}|${Files.getLastModifiedTime(f).toMillis}")
    hex(entries.sorted.mkString("\n")).take(16)
  }

  /** The staged copy `sub` of `sfDir`: built by `build` into the returned dir
    * when absent or stamped for other content, else reused as is.
    */
  def once(sub: String, sfDir: String)(build: String => Unit): String = {
    val d = dir(sub, sfDir)
    locks.computeIfAbsent(d, _ => new Object).synchronized {
      val marker = Paths.get(d, "_DONE")
      val st = stamp(sfDir)
      if (!(Files.isRegularFile(marker) && Files.readString(marker) == st)) {
        delete(d)
        build(d)
        Files.createDirectories(Paths.get(d))
        Files.writeString(marker, st)
      }
    }
    d
  }

  /** The sub-area `sub` of `sfDir`, emptied. */
  def fresh(sub: String, sfDir: String): String = {
    val d = dir(sub, sfDir)
    delete(d)
    d
  }

  /** Recursive delete; a no-op when `path` is absent. */
  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }
  }
}
