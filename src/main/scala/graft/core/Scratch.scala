package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession

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

  /** A stamp of one table's content without a Spark job: a hash of
    * (relative path, length, modification time) over every file the Hadoop
    * `FileSystem` of `path` lists under it, whether the table is one parquet
    * file or a directory of parts, on any filesystem a session can read
    * (`file:`, `hdfs:`, `s3a:`). An absent path stamps as an empty listing.
    */
  def tableStamp(path: String, conf: Configuration): String = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val root = fs.makeQualified(p).toString
    // listStatus walked here, not listFiles: listFiles builds a
    // LocatedFileStatus, which reads each file's owner and permissions, and
    // without Hadoop's native library the local filesystem forks `ls` for that
    def files(dir: HPath): Seq[FileStatus] = fs.listStatus(dir).toSeq.flatMap { f =>
      if (f.isDirectory) files(f.getPath) else Seq(f)
    }
    val listed = try files(p) catch { case _: java.io.FileNotFoundException => Nil }
    val entries = listed.map(f =>
      s"${f.getPath.toString.stripPrefix(root)}|${f.getLen}|${f.getModificationTime}")
    hex(entries.sorted.mkString("\n")).take(16)
  }

  /** A stamp of the dataset's content: a hash of its tables' [[tableStamp]]s,
    * so a staged copy ([[once]]) and a memo keyed by one table
    * ([[Tables.load]]) follow content by the same rule.
    */
  def stamp(sfDir: String): String = {
    val conf = hadoopConf
    hex(Tables.names.map(t => s"$t|${tableStamp(s"$sfDir/$t.parquet", conf)}")
      .mkString("\n")).take(16)
  }

  /** The Hadoop configuration of the running session (its `spark.hadoop.*`
    * settings reach the filesystems), else Hadoop's defaults.
    */
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(defaultConf)(_.sparkContext.hadoopConfiguration)

  private lazy val defaultConf = new Configuration()

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
