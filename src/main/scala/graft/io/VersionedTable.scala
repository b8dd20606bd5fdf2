package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.Fold

/** A versioned parquet table with snapshot isolation, time travel and a
  * change feed — the lakehouse transaction-log pattern (Delta/Iceberg-style)
  * built on nothing but parquet directories and a tiny text manifest per
  * version. Completes the table-maintenance tier: [[graft.ops.Merge]] is the
  * row-level upsert semantics, `ops.Relational` SCD2/CDC the history
  * modeling, `ops.Compaction` the file-size hygiene — this is the COMMIT
  * protocol that makes those operations versioned and readable as-of.
  *
  * Layout under `base/`:
  *   - `_log/v00000.txt, v00001.txt, …` — one manifest per version, text
  *     lines: `action <name>`, `add <relative group dir>`,
  *     `schema <relative group dir> <json>`, `remove <relative group dir>`.
  *     Version N's live set is the fold of manifests 0..N (adds minus
  *     removes).
  *   - `groups/<random UUID>/` — immutable parquet "file groups", named
  *     afresh for every write, so two writers never share a data directory
  *     whatever versions they race for. Data files are NEVER mutated or
  *     deleted by commits; old versions stay readable (time travel) until
  *     [[vacuum]] reclaims them. A group name is an opaque relative path:
  *     logs written with other naming rules (`g<version>-<k>`,
  *     `w-<id>`) read unchanged.
  *
  * Commit protocol: data groups are fully written BEFORE the manifest, and
  * the manifest lands by write-to-temp + atomic PUT-IF-ABSENT
  * ([[tryCommitAt]]) — a reader either sees version N complete or not at
  * all, and a crashed writer leaves only unreferenced data (cleaned by
  * vacuum), never a torn table. Every writer follows Delta's optimistic
  * model through one loop ([[commitLoop]]) that conditionally claims its
  * version number; the loser of a race DETECTS the conflict (never
  * overwrites the winner) and retries, up to [[MaxRetries]] times. An
  * append re-submits the same manifest (blind appends conflict with
  * nothing); a delete, merge, optimize or restore re-resolves against the
  * new snapshot first. On an object store the conditional put is
  * `If-None-Match`; here it is a hard link (POSIX atomic
  * create-if-absent).
  *
  * Scale shape: ALL log operations are manifest-sized (file counts, not row
  * counts) — snapshot resolution ([[resolve]]) is one closed listing of
  * `_log/` and a handful of text files read driver-side, the same work a
  * Delta driver does, then hands Spark one multi-path parquet read. Each
  * operation resolves once: a read resolves its version, and every commit
  * attempt resolves the latest snapshot and commits against exactly that
  * snapshot's version. DELETE and MERGE are copy-on-write at FILE-GROUP
  * granularity: one pruning job finds the groups that actually contain
  * matching rows (`input_file_name` aggregated to groups), one job reads
  * those groups together, transforms them and writes ONE replacement group;
  * untouched groups carry over by reference. A delete matching 1% of rows
  * rewrites ~1% of the data, not the table.
  *
  * Schema in the log: each `add` carries its group's schema on a `schema`
  * line (Delta's `metaData` design), the written frame's schema with every
  * field nullable, which is what parquet reads back. Committed groups are
  * immutable, so the recorded schema never goes stale, and a read declares
  * it instead of starting a Spark job to infer it from the footers: when all
  * opened groups recorded one schema, that one; when they differ, their
  * union under parquet's schema merging if the read merges schemas, else
  * inference. A group with no `schema` line (a manifest written before the
  * log carried them) makes the read infer, as before.
  */
object VersionedTable {

  private def logDir(base: String) = Paths.get(base, "_log")

  private val GroupCol = "__graft_g"

  /** `df` tagged with each row's group rel-path (`groups/<dirname>`), taken
    * from `input_file_name` inside the Spark job so touched-group discovery
    * collects group names, not file names. The tag must bind to the scan
    * BEFORE any join — after one the expression has two sources and
    * analysis rejects it.
    */
  private def withGroup(df: DataFrame): DataFrame =
    df.withColumn(GroupCol, regexp_extract(input_file_name(), "/(groups/[^/]+)/", 1))

  /** An added file group, optionally carrying min/max stats for ONE declared
    * clustering column — the manifest-level data-skipping index — and the
    * schema a read of it reports. Stats are doubles (numeric clustering
    * keys); a group without stats is never skipped (correctness default for
    * mixed histories), one without a schema is read by inference.
    */
  private case class Group(rel: String, statsCol: Option[String] = None,
      min: Double = 0, max: Double = 0, schema: Option[StructType] = None) {
    def manifestLines: Seq[String] = (statsCol match {
      case Some(c) => s"add $rel $c $min $max"
      case None => s"add $rel"
    }) +: schema.map(sc => s"schema $rel ${sc.json}").toSeq
  }

  private case class Manifest(action: String, add: Seq[Group], remove: Seq[String])

  /** The entries of directory `d`, none when it is absent. A directory
    * listing's stream holds an open handle until it is closed — the GC never
    * closes it — so this is the one place the code lists a directory, and
    * the listing is closed before it returns.
    */
  private def listed(d: Path): Seq[Path] =
    if (!Files.exists(d)) Seq.empty
    else {
      val entries = Files.list(d)
      try entries.iterator().asScala.toVector finally entries.close()
    }

  /** The log as one listing of `_log/`: the manifests oldest first (the
    * i-th is version i) and the checkpoints (`c<version>.txt`) with the
    * version each one folds up to. Checkpoints are pure ACCELERATORS: they
    * never replace manifests, so any version stays resolvable from scratch.
    */
  private case class Log(manifests: Seq[Path], checkpoints: Seq[(Int, Path)]) {
    def latest: Int = manifests.size - 1

    /** Live set at `v`: fold from the newest checkpoint ≤ v (its add lines
      * ARE the folded live set) plus only the manifests after it.
      */
    def liveAt(v: Int): Seq[Group] = {
      val (start, init) = checkpoints.filter(_._1 <= v).lastOption match {
        case Some((cv, p)) => (cv + 1, readManifest(p).add.toVector)
        case None => (0, Vector.empty[Group])
      }
      manifests.slice(start, v + 1).map(readManifest)
        .foldLeft(init)((live, m) => live.filterNot(g => m.remove.contains(g.rel)) ++ m.add)
    }
  }

  private val LogFile = "([vc])(\\d+)\\.txt".r

  private def log(base: String): Log = {
    val files = listed(logDir(base)).flatMap(p => p.getFileName.toString match {
      case LogFile(kind, v) => Some((kind, v.toInt, p))
      case _ => None
    }).sortBy(_._2)
    Log(files.collect { case ("v", _, p) => p }, files.collect { case ("c", v, p) => v -> p })
  }

  /** The table at one version: the version (-1 when none is committed) and
    * its live groups.
    */
  private case class Snapshot(version: Int, groups: Seq[Group]) {
    def committed(base: String): Snapshot = {
      require(version >= 0, s"no committed version in $base")
      this
    }
  }

  /** The snapshot at `asOf`, clamped to the latest version, from ONE
    * listing of the log: the newest checkpoint ≤ asOf and the manifests
    * after it. Every read resolves once; every commit attempt resolves once
    * and commits against what it resolved ([[commitLoop]]).
    *
    * The cost grows with the versions committed since the newest
    * checkpoint. Only [[checkpoint]] writes one, and nothing calls it
    * automatically: a table no caller checkpoints — the streaming upsert's
    * (`EventStream.upsertLatestToTable`) is one — reads every manifest since
    * v0 on each resolution.
    */
  private def resolve(base: String, asOf: Int = Int.MaxValue): Snapshot = {
    val l = log(base)
    val v = math.min(asOf, l.latest)
    Snapshot(v, l.liveAt(v))
  }

  private def readManifest(p: java.nio.file.Path): Manifest = {
    val lines = Files.readAllLines(p).asScala.toSeq
    val schemas = lines.collect {
      case s if s.startsWith("schema ") =>
        val Array(rel, json) = s.drop(7).split(" ", 2)
        rel -> DataType.fromJson(json).asInstanceOf[StructType]
    }.toMap
    val adds = lines.collect {
      case s if s.startsWith("add ") => s.drop(4).split(" ") match {
        case Array(rel) => Group(rel, schema = schemas.get(rel))
        case Array(rel, c, mn, mx) =>
          Group(rel, Some(c), mn.toDouble, mx.toDouble, schemas.get(rel))
      }
    }
    Manifest(
      lines.collectFirst { case s if s.startsWith("action ") => s.drop(7) }.getOrElse("?"),
      adds,
      lines.collect { case s if s.startsWith("remove ") => s.drop(7) })
  }

  /** Latest committed version, or -1 for an empty/absent table. */
  def latestVersion(base: String): Int = log(base).latest

  /** Atomic PUT-IF-ABSENT of version `v`'s manifest: the content is staged to
    * a temp file, then materialized at `v<v>.txt` via `Files.createLink` —
    * a hard link either lands the COMPLETE content atomically or fails with
    * `FileAlreadyExistsException` when another writer claimed `v` first
    * (POSIX rename would silently REPLACE the winner's manifest). This is the
    * local-FS analogue of an object store's conditional put (`If-None-Match`),
    * which is exactly the primitive a cloud deployment swaps in.
    */
  private def tryCommitAt(base: String, v: Int, action: String,
      add: Seq[Group], remove: Seq[String]): Boolean = {
    Files.createDirectories(logDir(base))
    val body = (s"action $action" +: (add.flatMap(_.manifestLines) ++ remove.map("remove " + _)))
      .mkString("", "\n", "\n")
    val tmp = logDir(base).resolve(f".v$v%05d.txt.tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    try { Files.createLink(logDir(base).resolve(f"v$v%05d.txt"), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Retries of a commit that lost its version race, before the loss throws. */
  private val MaxRetries = 10

  /** The one commit loop. Each attempt resolves the latest snapshot once,
    * lets `derive` compute the commit (action, added groups, removed
    * rel-paths) from it, and conditionally puts it as the snapshot's
    * version + 1. Losing the race re-resolves against the new snapshot, at
    * most [[MaxRetries]] times; then the loss throws.
    * `beforeCommit(attempt)` is a test seam between resolution and the put
    * — the specs use it to force a deterministic interleave.
    */
  @annotation.tailrec
  private def commitLoop(base: String, beforeCommit: Int => Unit = _ => (),
      attempt: Int = 0)(derive: Snapshot => (String, Seq[Group], Seq[String])): Int = {
    val at = resolve(base)
    val (action, add, remove) = derive(at)
    val v = at.version + 1
    beforeCommit(attempt)
    if (tryCommitAt(base, v, action, add, remove)) v
    else if (attempt < MaxRetries) commitLoop(base, beforeCommit, attempt + 1)(derive)
    else throw new java.util.ConcurrentModificationException(
      s"$action lost version $v of $base to another writer on each of " +
        s"its ${MaxRetries + 1} attempts")
  }

  /** Write one immutable file group under a fresh `groups/<random UUID>`
    * and return it with its row count. The count and the stats are observed
    * on the group's own parquet write, so they cost no Spark job; the group
    * records the schema the write reads back as.
    */
  private def writeCounted(df: DataFrame, base: String,
      statsCol: Option[String] = None): (Option[Group], Long) = {
    val rel = s"groups/${java.util.UUID.randomUUID()}"
    val key = statsCol.map(col(_).cast("double"))
    val (_, m) = Fold.observed(df, count(lit(1)).as("rows") +:
        key.toSeq.flatMap(k => Seq(min(k).as("lo"), max(k).as("hi"))): _*)(
      _.write.parquet(s"$base/$rel"))
    val rows = m("rows").asInstanceOf[Long]
    val group = Group(rel, schema = Some(SchemaBridge.asNullable(df.schema)))
    val added = statsCol match {
      case None => Some(group)
      case Some(_) if rows == 0L => None // empty rewrite: nothing to track
      case Some(_) if m("lo") == null => Some(group) // only null keys: statless, never skipped
      case Some(c) => Some(group.copy(statsCol = Some(c),
        min = m("lo").asInstanceOf[Double], max = m("hi").asInstanceOf[Double]))
    }
    (added, rows)
  }

  /** The schema a read of `groups` declares, when the log recorded one for
    * every group: their one schema, or with `mergeSchema` the union parquet
    * schema merging would infer (in the groups' order). None means infer.
    */
  private def declaredSchema(spark: SparkSession, groups: Seq[Group],
      mergeSchema: Boolean): Option[StructType] =
    if (groups.exists(_.schema.isEmpty)) None
    else groups.flatMap(_.schema).distinct match {
      case Seq(one) => Some(one)
      case many if mergeSchema =>
        val caseSensitive = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
        Some(many.reduceLeft(SchemaBridge.merge(_, _, caseSensitive)))
      case _ => None
    }

  /** One multi-path parquet read of `groups`, the schema declared when the
    * log has it ([[declaredSchema]]) so the read starts no Spark job.
    */
  private def read(spark: SparkSession, base: String, groups: Seq[Group],
      mergeSchema: Boolean = false): DataFrame = {
    val paths = groups.map(g => s"$base/${g.rel}")
    declaredSchema(spark, groups, mergeSchema) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", mergeSchema.toString).parquet(paths: _*)
    }
  }

  /** Rewrite `groups` as ONE new group: one multi-path read of all of
    * them, `f` over it, one write. The read merges schemas — on an evolved
    * history a single-footer read would silently drop the columns present
    * in only some groups. The new group keeps a stats column only when
    * EVERY input declared the same one (min/max re-collected by
    * [[writeCounted]]); mixed histories drop stats rather than lie.
    */
  private def rewrite(spark: SparkSession, base: String, groups: Seq[Group])(
      f: DataFrame => DataFrame): Option[Group] = {
    val statsCol = groups.map(_.statsCol).distinct match {
      case Seq(only @ Some(_)) => only
      case _ => None
    }
    writeCounted(f(read(spark, base, groups, mergeSchema = true)), base, statsCol)._1
  }

  /** The live groups of `at` that hold a row of `rows`, a frame
    * [[withGroup]]-tagged at `at`'s snapshot scan. One pruning job; the
    * driver collects O(touched groups) names and probes a hash set — never
    * O(files × groups) substring scans over the manifest.
    */
  private def touchedGroups(at: Snapshot, rows: DataFrame): Seq[Group] = {
    val rels = rows.select(GroupCol).distinct().collect().map(_.getString(0)).toSet
    at.groups.filter(g => rels.contains(g.rel))
  }

  /** A read of every live group of `at`, which must have some. */
  private def readLive(spark: SparkSession, base: String, at: Snapshot,
      mergeSchema: Boolean): DataFrame = {
    require(at.committed(base).groups.nonEmpty,
      s"version ${at.version} of $base has no live data groups")
    read(spark, base, at.groups, mergeSchema)
  }

  /** Append `df` as one group per slice, in one commit: slice k holds the
    * rows `slices(k)` admits, and slice 0 also the rows whose `key` is NULL.
    * A NULL key satisfies no slice predicate, and the full snapshot must
    * keep its rows; a skipping read never wants them (NULL fails its
    * residual filter whatever groups are opened). Each slice is one
    * [[writeCounted]] write, whose `statsCol` also decides whether an empty
    * slice is a group; `each` runs on every written group, with its row
    * count, before the commit.
    */
  private def appendSliced(df: DataFrame, base: String, action: String, key: Column,
      slices: Seq[Column], statsCol: Option[String])(each: (Group, Long) => Unit): Int = {
    val groups = slices.zipWithIndex.flatMap { case (slice, k) =>
      val (group, rows) =
        writeCounted(df.filter(if (k == 0) slice || key.isNull else slice), base, statsCol)
      group.foreach(each(_, rows))
      group
    }
    commitLoop(base)(_ => (action, groups, Seq.empty))
  }

  /** APPEND `df` as a new file group. The group is written ONCE, then
    * [[commitLoop]] claims the next version; losing a round means another
    * writer's commit landed first — a blind append conflicts with NOTHING
    * semantically (Delta's own rule), so the loser simply retries the same
    * manifest on the new latest version. `beforeCommit` is [[commitLoop]]'s
    * test seam.
    */
  def append(df: DataFrame, base: String, beforeCommit: Int => Unit = _ => ()): Int = {
    val group = writeCounted(df, base)._1.toSeq
    commitLoop(base, beforeCommit)(_ => ("append", group, Seq.empty))
  }

  /** Append `df` range-CLUSTERED on a numeric column into `nGroups` file
    * groups, each with min/max stats in the manifest — the write-side half
    * of data skipping: clustering makes group ranges narrow, stats make
    * them skippable. Boundaries come from `approxQuantile` (one pass,
    * driver gets `nGroups−1` doubles); each group is a filtered write, so
    * clustering costs `nGroups` scans here — a production writer does ONE
    * `repartitionByRange` job and collects per-file stats from the commit
    * protocol instead, same log contents.
    */
  def appendClustered(df: DataFrame, base: String, statsCol: String,
      nGroups: Int): Int = {
    val cuts = df.stat.approxQuantile(statsCol,
      (1 until nGroups).map(_.toDouble / nGroups).toArray, 0.001)
    val bounds = (None +: cuts.map(Option(_)).toSeq) :+ None
    val c = col(statsCol).cast("double")
    val ranges = bounds.sliding(2).map { case Seq(lo, hi) =>
      (lo.map(c >= _) ++ hi.map(c < _)).reduceOption(_ && _).getOrElse(lit(true))
    }.toSeq
    appendSliced(df, base, "append_clustered", c, ranges, Some(statsCol))((_, _) => ())
  }

  /** Table state at `version` (defaults to latest). An empty live set needs a
    * schema to stand on, so callers pass the table schema source for that
    * edge; normal reads are a plain multi-path parquet scan, with the
    * schema the log recorded declared.
    */
  def snapshot(spark: SparkSession, base: String, version: Int = Int.MaxValue,
      mergeSchema: Boolean = false): DataFrame =
    readLive(spark, base, resolve(base, version), mergeSchema)

  /** Schema-evolved read: file groups appended with DIFFERENT (compatible)
    * schemas are unioned by parquet schema merging — columns absent in older
    * groups come back NULL. Evolution costs nothing at write time (each
    * group keeps its own schema; no rewrite of history) and one footer-merge
    * pass at read time. Widening/renames are out of scope, exactly as in
    * Delta's additive-only default.
    */
  def snapshotEvolved(spark: SparkSession, base: String, version: Int = Int.MaxValue): DataFrame =
    snapshot(spark, base, version, mergeSchema = true)

  /** Range read with manifest-level data skipping: only file groups whose
    * [min,max] stats intersect [lo,hi] are opened at all (groups without
    * stats are conservatively read); the residual filter then applies
    * exactly. The skipping is invisible in the result — same rows as
    * filtering the full snapshot — which is what makes it safe; the spec
    * pins that the group count actually shrinks. This is the manifest tier
    * of the pruning stack (above it: parquet row-group min/max, below it:
    * partition directories).
    */
  def snapshotRange(spark: SparkSession, base: String, statsCol: String,
      lo: Double, hi: Double, version: Int = Int.MaxValue): DataFrame = {
    val c = col(statsCol).cast("double")
    skippingRead(spark, base, version, overlaps(statsCol, lo, hi), c >= lo && c <= hi)
  }

  /** The group paths [[snapshotRange]] would open — exposed so the spec can
    * pin the skip count without reaching into private state.
    */
  private[io] def prunedPaths(base: String, statsCol: String, lo: Double,
      hi: Double, version: Int = Int.MaxValue): Seq[String] =
    keptPaths(base, version, overlaps(statsCol, lo, hi))

  /** Whether group `g`'s [min,max] stats on `statsCol` meet [lo,hi]; a
    * group without stats for the column cannot be skipped safely.
    */
  private def overlaps(statsCol: String, lo: Double, hi: Double)(g: Group): Boolean =
    !g.statsCol.contains(statsCol) || (g.max >= lo && g.min <= hi)

  /** The one skipping read: of the groups live at `version`, only those
    * `keep` admits are opened, then `residual` applies exactly. When every
    * group is skipped, the empty result carries the FULL (merged) table
    * schema — building it from one group would narrow it on a
    * schema-evolved table.
    */
  private def skippingRead(spark: SparkSession, base: String, version: Int,
      keep: Group => Boolean, residual: Column): DataFrame = {
    val at = resolve(base, version).committed(base)
    at.groups.filter(keep) match {
      case Seq() => readLive(spark, base, at, mergeSchema = true).filter(lit(false))
      case kept => read(spark, base, kept).filter(residual)
    }
  }

  /** The group paths a [[skippingRead]] at `version` with `keep` opens. */
  private def keptPaths(base: String, version: Int, keep: Group => Boolean): Seq[String] =
    resolve(base, version).committed(base).groups.filter(keep).map(g => s"$base/${g.rel}")

  /** Copy-on-write DELETE WHERE: rewrite ONLY the file groups that contain
    * matching rows; groups the predicate never touches carry over by
    * reference (the file-pruning property VersionedTableSpec pins). One
    * Spark job prunes (matching files → owning groups), one job rewrites
    * all touched groups, minus the matching rows, as ONE new group, one
    * manifest. A delete that matches nothing commits `delete_noop`.
    *
    * Unlike an [[append]], a delete's rewrite set DEPENDS on the snapshot it
    * read, so losing the version race forces full re-resolution: the loser
    * re-reads the new latest snapshot, re-discovers touched groups, rewrites
    * them afresh and tries again. Data groups from abandoned attempts are
    * unreferenced — vacuum's crashed-writer sweep reclaims them, exactly the
    * Delta story. The predicate must be deterministic; `beforeCommit` is
    * [[commitLoop]]'s test seam.
    */
  def deleteWhere(spark: SparkSession, base: String, predicate: Column,
      beforeCommit: Int => Unit = _ => ()): Int =
    commitLoop(base, beforeCommit)(at => deleteAt(spark, base, predicate, at))

  /** One delete attempt against snapshot `at`: its touched groups
    * rewritten, without the matching rows, as one new group.
    */
  private def deleteAt(spark: SparkSession, base: String, predicate: Column,
      at: Snapshot): (String, Seq[Group], Seq[String]) = {
    val touched = touchedGroups(at,
      withGroup(readLive(spark, base, at, mergeSchema = false).filter(predicate)))
    if (touched.isEmpty) ("delete_noop", Seq.empty, Seq.empty)
    // a row whose predicate is NULL was not matched: it stays
    else ("delete", rewrite(spark, base, touched)(
      _.filter(!coalesce(predicate, lit(false)))).toSeq, touched.map(_.rel))
  }

  /** Versioned MERGE INTO — [[graft.ops.Merge]]'s row semantics committed
    * through the copy-on-write protocol: the groups containing a source key
    * are read together and run through ONE `mergeInto` with the caller's
    * full clause set, and its output — updated and carried rows of those
    * groups plus the inserted source rows — lands as ONE new group.
    * Inserts need no second pass over the snapshot: a source key found in
    * no touched group is, by definition, in no live group. Untouched groups
    * carry over by reference, and the whole thing is a single atomic
    * commit, so rewrite cost scales with touched data. The cardinality
    * guard inside `mergeInto` rides along unchanged (an ambiguous source
    * fails the commit before any manifest lands — the group written by the
    * failed attempt is unreferenced garbage for vacuum, exactly the
    * crashed-writer story). With `evolveSchema` on, source columns the
    * target lacks join the schema additively (Delta's mergeSchema on
    * MERGE); read the result with [[snapshotEvolved]]. A merge into a table
    * with no committed version merges over an empty target of the source's
    * schema: it inserts the source rows its insert clause admits.
    *
    * A merge's rewrite set AND its row results depend on the snapshot it
    * read, so losing the version race forces full re-resolution: the loser
    * re-reads the new latest snapshot, re-discovers touched groups, re-runs
    * the row-level merge against the NEW target rows (an update that was a
    * no-op against the old snapshot may now apply, and vice versa — this is
    * what blind retry of the stale manifest would corrupt), writes a fresh
    * group and tries the conditional put again. Abandoned attempts leave
    * only unreferenced data for vacuum's crashed-writer sweep.
    * `beforeCommit` is [[commitLoop]]'s test seam — the spec uses it to
    * force two merging writers onto the same version number.
    */
  def merge(spark: SparkSession, base: String, source: DataFrame,
      keys: Seq[String],
      updateWhen: Option[Column] = None,
      updateSet: Map[String, Column] = Map.empty,
      deleteWhen: Option[Column] = None,
      insertWhen: Option[Column] = None,
      evolveSchema: Boolean = false,
      beforeCommit: Int => Unit = _ => ()): Int =
    commitLoop(base, beforeCommit)(at => mergeAt(spark, base, source, keys,
      updateWhen, updateSet, deleteWhen, insertWhen, evolveSchema, at))

  /** One merge attempt against snapshot `at` (version -1: none committed):
    * its touched groups merged with the whole source, inserts included, as
    * one new group.
    */
  private def mergeAt(spark: SparkSession, base: String, source: DataFrame,
      keys: Seq[String],
      updateWhen: Option[Column],
      updateSet: Map[String, Column],
      deleteWhen: Option[Column],
      insertWhen: Option[Column],
      evolveSchema: Boolean,
      at: Snapshot): (String, Seq[Group], Seq[String]) = {
    // With evolution on, source columns absent from the target join the
    // schema (Delta's mergeSchema on MERGE): the REWRITTEN group carries
    // them, untouched groups keep their old schema (no history rewrite), and
    // snapshotEvolved reads the union. The snapshot itself reads mergeSchema
    // too, so evolving an already-evolved table composes.
    val snap =
      if (at.version < 0) spark.createDataFrame(java.util.List.of[Row](), source.schema)
      else readLive(spark, base, at, mergeSchema = evolveSchema)
    // new-column detection must use the SESSION's resolution rules: under the
    // default caseSensitive=false a source column differing only in case is
    // the SAME column (treating it as new would let widen's withColumn
    // case-insensitively replace the target column with typed NULLs)
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def fold(n: String): String =
      if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val existing = snap.columns.map(fold).toSet
    val newCols =
      if (evolveSchema) source.schema.fields.filterNot(f => existing.contains(fold(f.name)))
      else Array.empty[org.apache.spark.sql.types.StructField]
    // the merge target has every snapshot column plus the new ones, whatever
    // subset of them the touched groups hold; the missing read typed NULL
    def widen(df: DataFrame): DataFrame = {
      val present = df.columns.map(fold).toSet
      (snap.schema.fields ++ newCols).filterNot(f => present.contains(fold(f.name)))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    }
    // a semi join: the snapshot rows with a source key, whatever the
    // source's duplicates, with no shuffle to make the source's keys distinct
    val touched =
      if (at.version < 0) Seq.empty
      else touchedGroups(at, withGroup(snap).join(source, keys, "left_semi"))
    def merged(target: DataFrame): DataFrame =
      graft.ops.Merge.mergeInto(widen(target), source, keys,
        updateWhen = updateWhen, updateSet = updateSet,
        deleteWhen = deleteWhen, insertWhen = insertWhen)
    // nothing touched: the merge is inserts only, over an empty target
    val add =
      if (touched.isEmpty) writeCounted(merged(snap.filter(lit(false))), base)._1
      else rewrite(spark, base, touched)(merged)
    ("merge", add.toSeq, touched.map(_.rel))
  }

  /** Append `df` hash-sliced on `keyCol` into `nGroups` file groups, each
    * carrying a BLOOM-FILTER SIDECAR (`_bloom_<col>.b64` inside the group
    * directory) over its key values — the equality member of the skipping
    * stack ([[appendClustered]]'s min/max stats serve ranges; blooms serve
    * point lookups, where range stats are useless under hash placement).
    * The sidecar lives INSIDE the immutable group dir, so it is written
    * before the manifest lands (commit atomicity covers it) and travels /
    * vacuums with its group for free.
    */
  def appendBloomIndexed(df: DataFrame, base: String, keyCol: String,
      nGroups: Int, fpp: Double = 0.01): Int =
    appendSliced(df, base, "append_bloom", col(keyCol),
      (0 until nGroups).map(k => pmod(col(keyCol), lit(nGroups)) === k), None) { (g, rows) =>
      // the write observed the bloom's sizing count; one pass over the
      // written group builds the bloom itself
      val bloom = read(df.sparkSession, base, Seq(g))
        .stat.bloomFilter(keyCol, math.max(1L, rows), fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      Files.write(Paths.get(base, g.rel, s"_bloom_$keyCol.b64"),
        java.util.Base64.getEncoder.encode(bos.toByteArray))
    }

  /** Point-lookup read: open only the file groups whose bloom sidecar might
    * contain AT LEAST ONE of `keys` (groups without a sidecar for this
    * column are conservatively read); the exact IN-filter then applies.
    * Like [[snapshotRange]], skipping is invisible in the result — the spec
    * pins that the opened-group count actually shrinks. Sidecar reads are
    * driver-side and manifest-sized (a few KB per group), the same class of
    * work as snapshot resolution itself.
    */
  def snapshotPoint(spark: SparkSession, base: String, keyCol: String,
      keys: Seq[Long], version: Int = Int.MaxValue): DataFrame =
    skippingRead(spark, base, version, mightHold(base, keyCol, keys), col(keyCol).isin(keys: _*))

  /** The group paths [[snapshotPoint]] would open — exposed for the spec. */
  private[io] def pointPaths(base: String, keyCol: String, keys: Seq[Long],
      version: Int = Int.MaxValue): Seq[String] =
    keptPaths(base, version, mightHold(base, keyCol, keys))

  /** Whether group `g`'s bloom sidecar on `keyCol` might hold one of
    * `keys`; a group without a sidecar for the column cannot be skipped
    * safely.
    */
  private def mightHold(base: String, keyCol: String, keys: Seq[Long])(g: Group): Boolean = {
    val sidecar = Paths.get(base, g.rel, s"_bloom_$keyCol.b64")
    !Files.exists(sidecar) || {
      val bytes = java.util.Base64.getDecoder.decode(Files.readAllBytes(sidecar))
      val bloom = org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bytes))
      keys.exists(bloom.mightContainLong)
    }
  }

  /** Each live group's path at `version` with the schema the log recorded
    * for it (None: a group committed before the log carried schemas) —
    * exposed for the spec.
    */
  private[io] def recordedSchemas(base: String,
      version: Int = Int.MaxValue): Seq[(String, Option[StructType])] =
    resolve(base, version).groups.map(g => s"$base/${g.rel}" -> g.schema)

  /** Write a checkpoint of the CURRENT version's folded live set
    * (`_log/c<v>.txt`, atomic like any commit). Subsequent snapshot
    * resolutions at or after this version start from it instead of folding
    * the whole log; earlier versions still fold from scratch (or from an
    * older checkpoint), so time travel is unaffected. Returns the version
    * checkpointed. Idempotent: re-checkpointing a version overwrites the
    * same content.
    */
  def checkpoint(base: String): Int = {
    val at = resolve(base).committed(base)
    val v = at.version
    val body = ("action checkpoint" +: at.groups.flatMap(_.manifestLines)).mkString("", "\n", "\n")
    val tmp = logDir(base).resolve(f".c$v%05d.txt.tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, logDir(base).resolve(f"c$v%05d.txt"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    v
  }

  private def dirSize(p: java.nio.file.Path): Long = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }

  /** OPTIMIZE (bin-packing compaction): merge live file groups smaller than
    * `smallBytes` into ONE rewritten group; groups already at size carry
    * over by reference, rows are bit-identical before/after (the spec and
    * the q137 oracle both pin it). This is the versioned flavor of
    * [[graft.ops.Compaction]]: the rewrite is a new commit, so readers never
    * see a half-compacted table and time travel to the fragmented history
    * still works. The stats and schema rules are [[rewrite]]'s, the same
    * as for a delete or merge rewrite.
    *
    * Scale shape: the small-group scan is one multi-path parquet read sized
    * by the data being compacted, not the table; at 100 TB you run this
    * per-partition with a size target, same log contents.
    */
  def optimize(spark: SparkSession, base: String, smallBytes: Long = 64L << 20): Int =
    commitLoop(base) { at =>
      val small = at.committed(base).groups
        .filter(g => dirSize(Paths.get(base, g.rel)) < smallBytes)
      if (small.size < 2) ("optimize_noop", Seq.empty, Seq.empty)
      else ("optimize", rewrite(spark, base, small)(identity).toSeq,
        small.map(_.rel))
    }

  /** RESTORE the table to version `toVersion`'s live set, as a NEW commit —
    * Delta's RESTORE semantics: history stays append-only (the restore is
    * itself a version, so it can be time-traveled past or restored over
    * again) and NO data is copied — the target version's groups are
    * re-referenced and the current-only groups de-referenced in one
    * manifest. The operational "bad deploy" undo: a wrong MERGE or DELETE
    * is reversed in O(manifest) time at any table size. Fails loudly if
    * [[vacuum]] already reclaimed a group the target version needs — the
    * restore horizon IS the vacuum retention window, exactly Delta's
    * contract.
    */
  def restore(base: String, toVersion: Int): Int = {
    // a committed version's live set never changes: resolved once, by the
    // first attempt that finds `toVersion` committed
    lazy val target = resolve(base, toVersion).groups
    commitLoop(base) { at =>
      require(toVersion >= 0 && toVersion <= at.version,
        s"cannot restore $base to v$toVersion (latest is v${at.version})")
      val missing = target.map(_.rel).filterNot(r => Files.exists(Paths.get(base, r)))
      require(missing.isEmpty,
        s"cannot restore $base to v$toVersion: vacuum reclaimed ${missing.mkString(", ")}")
      val currentRels = at.groups.map(_.rel).toSet
      val targetRels = target.map(_.rel).toSet
      ("restore", target.filterNot(g => currentRels.contains(g.rel)),
        at.groups.map(_.rel).filterNot(targetRels.contains))
    }
  }

  /** VACUUM: physically delete group directories referenced by NO retained
    * version. The newest `retainVersions` versions stay fully readable;
    * older versions keep their history rows but may no longer be
    * time-traveled to (their reads fail on missing paths — Delta's exact
    * contract). Also sweeps orphan groups from CRASHED writers. Returns the
    * number of directories reclaimed. Driver-side and manifest-sized, like
    * the rest of the log.
    *
    * Concurrency contract: vacuum must not run while another writer is in
    * flight — an in-flight commit's not-yet-committed group is
    * indistinguishable from a crashed writer's orphan, so running vacuum
    * concurrently with a writer can delete data out from under a commit
    * about to land. The conditional put guards manifests, not in-flight
    * groups: concurrent writers also need an age-based retention window
    * before orphan sweeping, exactly as Delta's VACUUM does.
    */
  def vacuum(base: String, retainVersions: Int = 1): Int = {
    val l = log(base)
    require(l.latest >= 0, s"no committed version in $base")
    require(retainVersions >= 1, "must retain at least the latest version")
    val floor = math.max(0, l.latest - retainVersions + 1)
    // a group live at some retained version is live at the floor or added
    // by a manifest after it
    val retained = (l.liveAt(floor) ++ l.manifests.drop(floor + 1).flatMap(readManifest(_).add))
      .map(_.rel).toSet
    val doomed = listed(Paths.get(base, "groups")).filter(Files.isDirectory(_))
      .filterNot(p => retained.contains(s"groups/${p.getFileName}"))
    doomed.foreach(p => graft.core.Scratch.delete(p.toString))
    doomed.size
  }

  /** Versions with their actions and file-group deltas — the `DESCRIBE
    * HISTORY` surface. Manifest-sized, computed driver-side like the log
    * itself, returned as a DataFrame for uniformity.
    */
  def history(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    log(base).manifests.map(readManifest).zipWithIndex.map { case (m, v) =>
      (v.toLong, m.action, m.add.size.toLong, m.remove.size.toLong)
    }.toDF("version", "action", "n_added_groups", "n_removed_groups")
  }

  /** Row-level change feed between two versions: `insert` rows present at
    * `toV` but not `fromV`, `delete` rows present at `fromV` but not `toV`
    * (bag semantics via EXCEPT ALL, so duplicates count). Rows untouched by
    * the interval's commits never appear — copy-on-write rewrites carry
    * them across unchanged and the except cancels them. At 100 TB the
    * manifest diff first restricts both sides to groups ADDED or REMOVED in
    * the interval (file-level pruning); the row-level except here is that
    * same computation with the pruning left to the format's row-group
    * statistics.
    */
  def changesBetween(spark: SparkSession, base: String, fromV: Int, toV: Int): DataFrame = {
    val before = snapshot(spark, base, fromV)
    val after = snapshot(spark, base, toV)
    after.exceptAll(before).withColumn("_change_type", lit("insert"))
      .unionByName(before.exceptAll(after).withColumn("_change_type", lit("delete")))
  }

  // ---- named refs (Iceberg-style tags) -------------------------------------

  private def tagDir(base: String) = Paths.get(base, "_tags")

  /** Pin a NAME to a committed version — the Iceberg-tag workflow ("the
    * snapshot the Q3 model trained on") without hardcoding version numbers
    * into every consumer. One file per tag under `_tags/`; writes are
    * write-temp + ATOMIC_MOVE with REPLACE, so a re-tag is last-writer-wins
    * and readers never observe a torn ref. Tags pin a VERSION, not data:
    * VACUUM's retention horizon must cover every live tag (same contract as
    * time travel — [[vacuum]]'s scaladoc owns that invariant).
    */
  def setTag(base: String, name: String, version: Int): Unit = {
    require(version >= 0 && version <= latestVersion(base),
      s"tag $name -> $version: no such committed version in $base")
    require(name.matches("[A-Za-z0-9._-]+"), s"unsafe tag name: $name")
    Files.createDirectories(tagDir(base))
    val tmp = tagDir(base).resolve(s".$name.tmp")
    Files.write(tmp, version.toString.getBytes("UTF-8"))
    Files.move(tmp, tagDir(base).resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Resolve a tag to its pinned version; absent tag is a loud error. */
  def tagVersion(base: String, name: String): Int = {
    val p = tagDir(base).resolve(name)
    require(Files.exists(p), s"unknown tag '$name' in $base")
    new String(Files.readAllBytes(p), "UTF-8").trim.toInt
  }

  /** All tags of a table (name → version), the `refs` listing. */
  def tags(base: String): Map[String, Int] =
    listed(tagDir(base)).filterNot(_.getFileName.toString.startsWith("."))
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8").trim.toInt)
      .toMap

  /** Table state at a NAMED ref — [[snapshot]] through [[tagVersion]]. */
  def snapshotTag(spark: SparkSession, base: String, name: String): DataFrame =
    snapshot(spark, base, tagVersion(base, name))
}
