package graft.io

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  *     `remove <relative group dir>`. Version N's live set is the fold of
  *     manifests 0..N (adds minus removes).
  *   - `groups/g<version>-<k>/` — immutable parquet "file groups". Data
  *     files are NEVER mutated or deleted by commits; old versions stay
  *     readable (time travel) until a vacuum (not modeled) reclaims them.
  *
  * Commit protocol: data groups are fully written BEFORE the manifest, and
  * the manifest lands by write-to-temp + atomic PUT-IF-ABSENT
  * ([[tryCommitAt]]) — a reader either sees version N complete or not at
  * all, and a crashed writer leaves only unreferenced data (cleaned by
  * vacuum), never a torn table. Multi-writer follows Delta's optimistic
  * model: every commit conditionally claims its version number, losers of
  * the race DETECT the conflict (never overwrite the winner), and
  * [[appendOptimistic]]/[[deleteWhereOptimistic]] retry — an append
  * re-submits the same manifest (blind appends conflict with nothing), a
  * delete re-resolves its rewrite set against the new snapshot first. On an
  * object store the conditional put is `If-None-Match`; here it is a hard
  * link (POSIX atomic create-if-absent).
  *
  * Scale shape: ALL log operations are manifest-sized (file counts, not row
  * counts) — snapshot resolution reads a handful of text files driver-side,
  * the same work a Delta driver does, then hands Spark one multi-path
  * parquet read. [[deleteWhere]] is copy-on-write at FILE-GROUP granularity:
  * one pruning job finds the groups that actually contain matching rows
  * (`input_file_name` aggregated to groups), only those are rewritten;
  * untouched groups carry over by reference. A delete matching 1% of rows
  * rewrites ~1% of the data, not the table.
  */
object VersionedTable {

  private def logDir(base: String) = Paths.get(base, "_log")

  /** Group rel-path (`groups/<dirname>`) of a data-file path, computed inside
    * the Spark job so touched-group discovery collects group names, not file
    * names — O(groups) driver rows and an exact hash-set probe downstream.
    */
  private def groupRelOf(file: Column): Column =
    regexp_extract(file, "/(groups/[^/]+)/", 1)

  /** An added file group, optionally carrying min/max stats for ONE declared
    * clustering column — the manifest-level data-skipping index. Stats are
    * doubles (numeric clustering keys); a group without stats is never
    * skipped (correctness default for mixed histories).
    */
  private case class Group(rel: String, statsCol: Option[String] = None,
      min: Double = 0, max: Double = 0) {
    def manifestLine: String = statsCol match {
      case Some(c) => s"add $rel $c $min $max"
      case None => s"add $rel"
    }
  }

  private case class Manifest(action: String, add: Seq[Group], remove: Seq[String])

  private def manifestFiles(base: String): Seq[java.nio.file.Path] = {
    val d = logDir(base)
    if (!Files.exists(d)) Seq.empty
    else Files.list(d).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("v\\d+\\.txt")).sortBy(_.getFileName.toString)
  }

  /** Checkpoint files (`c<version>.txt`), oldest first, with the version each
    * one folds up to. Checkpoints are pure ACCELERATORS: they never replace
    * manifests, so any version stays resolvable from scratch.
    */
  private def checkpointFiles(base: String): Seq[(Int, java.nio.file.Path)] = {
    val d = logDir(base)
    if (!Files.exists(d)) Seq.empty
    else Files.list(d).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("c\\d+\\.txt"))
      .map(p => (p.getFileName.toString.drop(1).takeWhile(_.isDigit).toInt, p))
      .sortBy(_._1)
  }

  private def readManifest(p: java.nio.file.Path): Manifest = {
    val lines = Files.readAllLines(p).asScala.toSeq
    val adds = lines.collect {
      case s if s.startsWith("add ") => s.drop(4).split(" ") match {
        case Array(rel) => Group(rel)
        case Array(rel, c, mn, mx) => Group(rel, Some(c), mn.toDouble, mx.toDouble)
      }
    }
    Manifest(
      lines.collectFirst { case s if s.startsWith("action ") => s.drop(7) }.getOrElse("?"),
      adds,
      lines.collect { case s if s.startsWith("remove ") => s.drop(7) })
  }

  /** Latest committed version, or -1 for an empty/absent table. */
  def latestVersion(base: String): Int = manifestFiles(base).size - 1

  /** Live set at `asOf`: fold from the newest checkpoint ≤ asOf (its add
    * lines ARE the folded live set) plus only the manifests after it — O(1)
    * + versions-since-checkpoint instead of O(versions), which is what keeps
    * snapshot resolution flat on a table with a 100k-commit history.
    */
  private def liveGroups(base: String, asOf: Int): Seq[Group] = {
    val (start, init) = checkpointFiles(base).filter(_._1 <= asOf).lastOption match {
      case Some((cv, p)) => (cv + 1, readManifest(p).add.toVector)
      case None => (0, Vector.empty[Group])
    }
    manifestFiles(base).slice(start, asOf + 1).map(readManifest)
      .foldLeft(init)((live, m) => live.filterNot(g => m.remove.contains(g.rel)) ++ m.add)
  }

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
    val body = (s"action $action" +: (add.map(_.manifestLine) ++ remove.map("remove " + _)))
      .mkString("", "\n", "\n")
    val tmp = logDir(base).resolve(f".v$v%05d.txt.tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    try { Files.createLink(logDir(base).resolve(f"v$v%05d.txt"), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Single-writer commit — now conflict-DETECTING: losing the version race
    * throws instead of silently overwriting the winner (the pre-conditional
    * rename could clobber a concurrent manifest). Snapshot-dependent callers
    * (delete/merge/optimize) must fail loudly here; retry belongs to the
    * optimistic variants, which re-derive their changes first.
    */
  private def commit(base: String, action: String, add: Seq[Group],
      remove: Seq[String]): Int = {
    val v = latestVersion(base) + 1
    if (!tryCommitAt(base, v, action, add, remove))
      throw new java.util.ConcurrentModificationException(
        s"version $v of $base was committed by another writer; " +
          "re-derive against the new snapshot (see the *Optimistic variants)")
    v
  }

  private def writeGroup(df: DataFrame, base: String, version: Int, k: Int,
      statsCol: Option[String] = None): Option[Group] =
    writeGroupNamed(df, base, f"groups/g$version%05d-$k", statsCol)

  /** Write one immutable file group under an EXPLICIT rel-path — the
    * version-named convention above for single-writer commits, writer-unique
    * names for the optimistic protocol (two writers racing on the same
    * version number must never race on a data directory).
    */
  private def writeGroupNamed(df: DataFrame, base: String, rel: String,
      statsCol: Option[String] = None): Option[Group] = {
    df.write.mode("overwrite").parquet(s"$base/$rel")
    statsCol match {
      case None => Some(Group(rel))
      case Some(c) =>
        // stats ride the commit: one tiny agg over the group just written
        // (a production writer folds this into the write task's footer scan)
        val r = df.sparkSession.read.parquet(s"$base/$rel")
          .agg(count(lit(1)), min(col(c).cast("double")), max(col(c).cast("double"))).head
        if (r.getLong(0) == 0L) None   // empty rewrite: nothing to track
        else if (r.isNullAt(1)) Some(Group(rel))  // only null keys: statless, never skipped
        else Some(Group(rel, Some(c), r.getDouble(1), r.getDouble(2)))
    }
  }

  /** Append `df` as a new file group. */
  def append(df: DataFrame, base: String): Int = {
    val v = latestVersion(base) + 1
    commit(base, "append", writeGroup(df, base, v, 0).toSeq, Seq.empty)
  }

  /** Multi-writer APPEND under optimistic concurrency. The data group is
    * written ONCE under a writer-unique name (`groups/w-<writerId>`, so
    * version-number races never become data-directory races), then the
    * manifest loop claims the next version via [[tryCommitAt]]'s conditional
    * put; losing a round means another writer's commit landed first — a
    * blind append conflicts with NOTHING semantically (Delta's own rule), so
    * the loser simply re-reads the new latest version and retries the same
    * manifest. `writerId` must be unique per in-flight commit (the Delta
    * `txnAppId` discipline); `beforeCommit(attempt)` is a test seam invoked
    * between version resolution and the conditional put — the spec uses it
    * to force a deterministic interleave.
    */
  def appendOptimistic(df: DataFrame, base: String, writerId: String,
      maxRetries: Int = 10, beforeCommit: Int => Unit = _ => ()): Int = {
    val group = writeGroupNamed(df, base, s"groups/w-$writerId").toSeq
    var attempt = 0
    while (attempt <= maxRetries) {
      val v = latestVersion(base) + 1
      beforeCommit(attempt)
      if (tryCommitAt(base, v, "append", group, Seq.empty)) return v
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"append by $writerId lost the commit race $maxRetries times in $base")
  }

  /** Multi-writer COPY-ON-WRITE DELETE under optimistic concurrency. Unlike
    * [[appendOptimistic]], a delete's rewrite set DEPENDS on the snapshot it
    * read, so losing the version race forces full re-resolution: the loser
    * re-reads the new latest snapshot, re-discovers touched groups, rewrites
    * them afresh (attempt-unique names) and tries again. Data groups from
    * abandoned attempts are unreferenced — vacuum's crashed-writer sweep
    * reclaims them, exactly the Delta story. The predicate must be
    * deterministic; `beforeCommit` is the same test seam as append's.
    */
  def deleteWhereOptimistic(spark: SparkSession, base: String,
      predicate: Column, writerId: String, maxRetries: Int = 5,
      beforeCommit: Int => Unit = _ => ()): Int = {
    var attempt = 0
    while (attempt <= maxRetries) {
      val v = latestVersion(base)
      require(v >= 0, s"no committed version in $base")
      val live = liveGroups(base, v)
      val touchedRels = snapshot(spark, base, v).filter(predicate)
        .select(groupRelOf(input_file_name()).as("g")).distinct()
        .collect().map(_.getString(0)).toSet
      val touched = live.filter(g => touchedRels.contains(g.rel))
      val (action, add, remove) =
        if (touched.isEmpty) ("delete_noop", Seq.empty[Group], Seq.empty[String])
        else {
          val rewritten = touched.zipWithIndex.flatMap { case (g, k) =>
            writeGroupNamed(spark.read.parquet(s"$base/${g.rel}").filter(!predicate),
              base, s"groups/w-$writerId-r$attempt-$k", g.statsCol)
          }
          ("delete", rewritten, touched.map(_.rel))
        }
      beforeCommit(attempt)
      if (tryCommitAt(base, v + 1, action, add, remove)) return v + 1
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"delete by $writerId lost the commit race $maxRetries times in $base")
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
    val v = latestVersion(base) + 1
    val cuts = df.stat.approxQuantile(statsCol,
      (1 until nGroups).map(_.toDouble / nGroups).toArray, 0.001)
    val bounds = (None +: cuts.map(Option(_)).toSeq) :+ None
    val groups = bounds.sliding(2).zipWithIndex.flatMap {
      case (Seq(lo, hi), k) =>
        val c = col(statsCol).cast("double")
        val range = (lo.map(c >= _) ++ hi.map(c < _))
          .reduceOption(_ && _).getOrElse(lit(true))
        // null clustering keys satisfy NO range predicate — route them into
        // group 0 so the full snapshot keeps them (a range read never wants
        // them: NULL fails the residual filter whatever groups are opened)
        val pred = if (k == 0) range || c.isNull else range
        writeGroup(df.filter(pred), base, v, k, Some(statsCol))
    }.toSeq
    commit(base, "append_clustered", groups, Seq.empty)
  }

  /** Table state at `version` (defaults to latest). An empty live set needs a
    * schema to stand on, so callers pass the table schema source for that
    * edge; normal reads are a plain multi-path parquet scan.
    */
  def snapshot(spark: SparkSession, base: String, version: Int = Int.MaxValue,
      mergeSchema: Boolean = false): DataFrame = {
    val v = math.min(version, latestVersion(base))
    require(v >= 0, s"no committed version in $base")
    val paths = liveGroups(base, v).map(g => s"$base/${g.rel}")
    require(paths.nonEmpty, s"version $v of $base has no live data groups")
    spark.read.option("mergeSchema", mergeSchema.toString).parquet(paths: _*)
  }

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
    prunedPaths(base, statsCol, lo, hi, version) match {
      case Seq() => // every live group skipped: empty result, schema from v
        snapshot(spark, base, version).filter(lit(false))
      case paths => spark.read.parquet(paths: _*).filter(c >= lo && c <= hi)
    }
  }

  /** The group paths [[snapshotRange]] would open — exposed so the spec can
    * pin the skip count without reaching into private state.
    */
  private[io] def prunedPaths(base: String, statsCol: String, lo: Double,
      hi: Double, version: Int = Int.MaxValue): Seq[String] = {
    val v = math.min(version, latestVersion(base))
    require(v >= 0, s"no committed version in $base")
    liveGroups(base, v).filter { g =>
      g.statsCol match {
        case Some(c) if c == statsCol => g.max >= lo && g.min <= hi
        case _ => true   // no stats for this column: cannot skip safely
      }
    }.map(g => s"$base/${g.rel}")
  }

  /** Copy-on-write DELETE WHERE: rewrite ONLY the file groups that contain
    * matching rows; groups the predicate never touches carry over by
    * reference (the file-pruning property VersionedTableSpec pins). One
    * Spark job prunes (matching files → owning groups), one rewrite job per
    * touched group, one manifest.
    */
  def deleteWhere(spark: SparkSession, base: String, predicate: Column): Int = {
    val v = latestVersion(base)
    require(v >= 0, s"no committed version in $base")
    val live = liveGroups(base, v)
    // group rel-paths are extracted from input_file_name IN the Spark job, so
    // the driver collects O(touched groups) rows and probes a hash set —
    // never O(files × groups) substring scans over the manifest
    val touchedRels = snapshot(spark, base).filter(predicate)
      .select(groupRelOf(input_file_name()).as("g")).distinct()
      .collect().map(_.getString(0)).toSet
    val touched = live.filter(g => touchedRels.contains(g.rel))
    if (touched.isEmpty) commit(base, "delete_noop", Seq.empty, Seq.empty)
    else {
      val next = v + 1
      val rewritten = touched.zipWithIndex.flatMap { case (g, k) =>
        // a clustered group keeps its stats column: the rewrite re-collects
        // min/max over the kept rows so skipping stays tight after deletes
        writeGroup(spark.read.parquet(s"$base/${g.rel}").filter(!predicate),
          base, next, k, g.statsCol)
      }
      commit(base, "delete", rewritten, touched.map(_.rel))
    }
  }

  /** Versioned MERGE INTO — [[graft.ops.Merge]]'s row semantics committed
    * through the copy-on-write protocol: groups containing MATCHED target
    * keys are rewritten through `mergeInto` (update/delete clauses, inserts
    * suppressed — an existing group never absorbs new rows), not-matched
    * source rows land as ONE fresh append group, untouched groups carry
    * over by reference, and the whole thing is a single atomic commit.
    * Each rewrite joins one group against the slice of the source matching
    * ITS keys, so rewrite cost scales with touched data; the cardinality
    * guard inside `mergeInto` rides along unchanged (an ambiguous source
    * fails the commit before any manifest lands — data groups written by
    * the failed attempt are unreferenced garbage for vacuum, exactly the
    * crashed-writer story). With `evolveSchema` on, source columns the
    * target lacks join the schema additively (Delta's mergeSchema on
    * MERGE); read the result with [[snapshotEvolved]].
    */
  def merge(spark: SparkSession, base: String, source: DataFrame,
      keys: Seq[String],
      updateWhen: Option[Column] = None,
      updateSet: Map[String, Column] = Map.empty,
      deleteWhen: Option[Column] = None,
      insertWhen: Option[Column] = None,
      evolveSchema: Boolean = false): Int = {
    val (next, add, remove) = mergeResolve(spark, base, source, keys,
      updateWhen, updateSet, deleteWhen, insertWhen, evolveSchema,
      (nv, k) => f"groups/g$nv%05d-$k")
    if (!tryCommitAt(base, next, "merge", add, remove))
      throw new java.util.ConcurrentModificationException(
        s"version $next of $base was committed by another writer; " +
          "use mergeOptimistic to re-resolve and retry")
    next
  }

  /** Multi-writer MERGE under optimistic concurrency — [[merge]] with the
    * re-derive-and-retry loop [[deleteWhereOptimistic]] already has. A
    * merge's rewrite set AND its row results depend on the snapshot it
    * read, so losing the version race forces full re-resolution: the loser
    * re-reads the new latest snapshot, re-discovers touched groups,
    * re-runs the row-level merge against the NEW target rows (an update
    * that was a no-op against the old snapshot may now apply, and vice
    * versa — this is what blind retry of the stale manifest would corrupt),
    * writes fresh writer-unique groups and tries the conditional put again.
    * Abandoned attempts leave only unreferenced data for vacuum's
    * crashed-writer sweep. `writerId` must be unique per in-flight commit;
    * `beforeCommit(attempt)` is the same test seam as the other optimistic
    * variants — the spec uses it to force two merging writers onto the same
    * version number.
    */
  def mergeOptimistic(spark: SparkSession, base: String, source: DataFrame,
      keys: Seq[String],
      updateWhen: Option[Column] = None,
      updateSet: Map[String, Column] = Map.empty,
      deleteWhen: Option[Column] = None,
      insertWhen: Option[Column] = None,
      evolveSchema: Boolean = false,
      writerId: String,
      maxRetries: Int = 5,
      beforeCommit: Int => Unit = _ => ()): Int = {
    var attempt = 0
    while (attempt <= maxRetries) {
      val (next, add, remove) = mergeResolve(spark, base, source, keys,
        updateWhen, updateSet, deleteWhen, insertWhen, evolveSchema,
        (_, k) => s"groups/w-$writerId-r$attempt-$k")
      beforeCommit(attempt)
      if (tryCommitAt(base, next, "merge", add, remove)) return next
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"merge by $writerId lost the commit race $maxRetries times in $base")
  }

  /** One merge attempt against the CURRENT latest snapshot: resolves touched
    * groups, runs the row-level merge per group, writes rewritten + insert
    * groups under `relName(nextVersion, k)` and returns the commit triple
    * (nextVersion, adds, removes) — the caller owns the conditional put.
    */
  private def mergeResolve(spark: SparkSession, base: String, source: DataFrame,
      keys: Seq[String],
      updateWhen: Option[Column],
      updateSet: Map[String, Column],
      deleteWhen: Option[Column],
      insertWhen: Option[Column],
      evolveSchema: Boolean,
      relName: (Int, Int) => String): (Int, Seq[Group], Seq[String]) = {
    val v = latestVersion(base)
    require(v >= 0, s"no committed version in $base")
    val live = liveGroups(base, v)
    // With evolution on, source columns absent from the target join the
    // schema (Delta's mergeSchema on MERGE): each REWRITTEN or INSERTED
    // group carries them, untouched groups keep their old schema (no
    // history rewrite), and snapshotEvolved reads the union. The snapshot
    // itself reads mergeSchema too, so evolving an already-evolved table
    // composes.
    val snap0 = snapshot(spark, base, mergeSchema = evolveSchema)
    // new-column detection must use the SESSION's resolution rules: under the
    // default caseSensitive=false a source column differing only in case is
    // the SAME column (treating it as new would let widen's withColumn
    // case-insensitively replace the target column with typed NULLs)
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def fold(n: String): String =
      if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val existing = snap0.columns.map(fold).toSet
    val newCols =
      if (evolveSchema) source.schema.fields.filterNot(f => existing.contains(fold(f.name)))
      else Array.empty[org.apache.spark.sql.types.StructField]
    def widen(df: DataFrame): DataFrame =
      newCols.foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val snap = widen(snap0)
    val keyCols = keys.map(col)

    // input_file_name() must bind to the scan BEFORE the join — after it the
    // expression has two sources and analysis rejects it. The group rel-path
    // is extracted in-job (see [[groupRelOf]]) so the driver collects
    // O(touched groups) and probes a set, not O(files × groups) substrings.
    val touchedRels = snap0.withColumn("__graft_g", groupRelOf(input_file_name()))
      .join(source.select(keyCols: _*).distinct(), keys)
      .select(col("__graft_g")).distinct().collect().map(_.getString(0)).toSet
    val touched = live.filter(g => touchedRels.contains(g.rel))

    val next = v + 1
    val rewritten = touched.zipWithIndex.flatMap { case (g, k) =>
      val groupDf = widen(spark.read.parquet(s"$base/${g.rel}"))
      val groupSource = source.join(groupDf.select(keyCols: _*).distinct(), keys, "left_semi")
      writeGroupNamed(
        graft.ops.Merge.mergeInto(groupDf, groupSource, keys,
          updateWhen = updateWhen, updateSet = updateSet,
          deleteWhen = deleteWhen, insertWhen = Some(lit(false))),
        base, relName(next, k), g.statsCol)
    }
    // not-matched source rows, projected to the target schema, as one group;
    // the source is aliased `s` so insertWhen can use the same `s.<col>`
    // vocabulary as the matched-clause conditions
    val inserts = source.as("s")
      .join(snap.select(keyCols: _*).distinct(), keys, "left_anti")
      .filter(insertWhen.getOrElse(lit(true)))
    val targetCols = snap.columns.toSeq
    val insertDf = inserts.select(targetCols.map(c =>
      (if (inserts.columns.contains(c)) col(c)
       else lit(null).cast(snap.schema(c).dataType)).as(c)): _*)
    val insertGroup =
      if (insertDf.isEmpty) None
      else writeGroupNamed(insertDf, base, relName(next, touched.size))

    (next, rewritten ++ insertGroup.toSeq, touched.map(_.rel))
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
      nGroups: Int, fpp: Double = 0.01): Int = {
    val v = latestVersion(base) + 1
    val groups = (0 until nGroups).flatMap { k =>
      // NULL keys satisfy no pmod slice — route them into group 0 so the
      // full snapshot keeps them (same invariant as appendClustered; a
      // point lookup never wants them: k = value is NULL-false anyway)
      val slice0 = pmod(col(keyCol), lit(nGroups)) === k
      val slice = df.filter(if (k == 0) slice0 || col(keyCol).isNull else slice0)
      writeGroup(slice, base, v, k).map { g =>
        // one materialized read of the written group yields both the bloom
        // sizing count and the bloom itself
        val back = df.sparkSession.read.parquet(s"$base/${g.rel}").cache()
        try {
          val bloom = back.stat.bloomFilter(keyCol, math.max(1L, back.count()), fpp)
          val bos = new java.io.ByteArrayOutputStream()
          bloom.writeTo(bos)
          Files.write(Paths.get(base, g.rel, s"_bloom_$keyCol.b64"),
            java.util.Base64.getEncoder.encode(bos.toByteArray))
        } finally back.unpersist()
        g
      }
    }
    commit(base, "append_bloom", groups, Seq.empty)
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
      keys: Seq[Long], version: Int = Int.MaxValue): DataFrame = {
    pointPaths(base, keyCol, keys, version) match {
      case Seq() =>
        // every group skipped: the empty frame still needs the FULL (merged)
        // table schema — building it from one group would narrow the result
        // on a schema-evolved table, and .head would throw bare on an empty
        // live set. snapshotEvolved covers both (clear require inside).
        snapshotEvolved(spark, base, version).filter(lit(false))
      case paths => spark.read.parquet(paths: _*).filter(col(keyCol).isin(keys: _*))
    }
  }

  /** The group paths [[snapshotPoint]] would open — exposed for the spec. */
  private[io] def pointPaths(base: String, keyCol: String, keys: Seq[Long],
      version: Int = Int.MaxValue): Seq[String] = {
    val v = math.min(version, latestVersion(base))
    require(v >= 0, s"no committed version in $base")
    liveGroups(base, v).filter { g =>
      val sidecar = Paths.get(base, g.rel, s"_bloom_$keyCol.b64")
      if (!Files.exists(sidecar)) true // no bloom: cannot skip safely
      else {
        val bytes = java.util.Base64.getDecoder.decode(Files.readAllBytes(sidecar))
        val bloom = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
        keys.exists(bloom.mightContainLong)
      }
    }.map(g => s"$base/${g.rel}")
  }

  /** Write a checkpoint of the CURRENT version's folded live set
    * (`_log/c<v>.txt`, atomic like any commit). Subsequent snapshot
    * resolutions at or after this version start from it instead of folding
    * the whole log; earlier versions still fold from scratch (or from an
    * older checkpoint), so time travel is unaffected. Returns the version
    * checkpointed. Idempotent: re-checkpointing a version overwrites the
    * same content.
    */
  def checkpoint(base: String): Int = {
    val v = latestVersion(base)
    require(v >= 0, s"no committed version in $base")
    val live = liveGroups(base, v)
    val body = ("action checkpoint" +: live.map(_.manifestLine)).mkString("", "\n", "\n")
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
    * still works. The merged group keeps a stats column only when EVERY
    * input group declared the same one (min/max re-collected by
    * [[writeGroup]]); mixed histories drop stats rather than lie.
    *
    * Scale shape: the small-group scan is one multi-path parquet read sized
    * by the data being compacted, not the table; at 100 TB you run this
    * per-partition with a size target, same log contents.
    */
  def optimize(spark: SparkSession, base: String, smallBytes: Long = 64L << 20): Int = {
    val v = latestVersion(base)
    require(v >= 0, s"no committed version in $base")
    val small = liveGroups(base, v)
      .filter(g => dirSize(Paths.get(base, g.rel)) < smallBytes)
    if (small.size < 2) commit(base, "optimize_noop", Seq.empty, Seq.empty)
    else {
      val next = v + 1
      // mergeSchema: compacting a schema-EVOLVED history must union the
      // group schemas — a single-footer read would silently drop columns
      // present in only some groups, destroying them for every later read
      val merged = spark.read.option("mergeSchema", "true")
        .parquet(small.map(g => s"$base/${g.rel}"): _*)
      val statsCol = small.map(_.statsCol).distinct match {
        case Seq(only @ Some(_)) => only
        case _ => None
      }
      commit(base, "optimize",
        writeGroup(merged, base, next, 0, statsCol).toSeq, small.map(_.rel))
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
    * Concurrency contract: vacuum is a WRITER-side maintenance operation
    * under this table's single-writer design — an in-flight append's
    * not-yet-committed group is indistinguishable from a crashed writer's
    * orphan, so running vacuum concurrently with a writer can delete data
    * out from under a commit about to land. A multi-writer deployment
    * needs the conditional-put commit variant plus an age-based retention
    * window before orphan sweeping, exactly as Delta's VACUUM does.
    */
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
    val v = latestVersion(base)
    require(toVersion >= 0 && toVersion <= v,
      s"cannot restore $base to v$toVersion (latest is v$v)")
    val target = liveGroups(base, toVersion)
    val missing = target.map(_.rel).filterNot(r => Files.exists(Paths.get(base, r)))
    require(missing.isEmpty,
      s"cannot restore $base to v$toVersion: vacuum reclaimed ${missing.mkString(", ")}")
    val current = liveGroups(base, v)
    val currentRels = current.map(_.rel).toSet
    val targetRels = target.map(_.rel).toSet
    commit(base, "restore",
      target.filterNot(g => currentRels.contains(g.rel)),
      current.map(_.rel).filterNot(targetRels.contains))
  }

  def vacuum(base: String, retainVersions: Int = 1): Int = {
    val latest = latestVersion(base)
    require(latest >= 0, s"no committed version in $base")
    require(retainVersions >= 1, "must retain at least the latest version")
    val floor = math.max(0, latest - retainVersions + 1)
    val retained = (floor to latest).flatMap(liveGroups(base, _)).map(_.rel).toSet
    val groupsDir = Paths.get(base, "groups")
    if (!Files.exists(groupsDir)) 0
    else {
      val doomed = Files.list(groupsDir).iterator().asScala.toSeq
        .filter(Files.isDirectory(_))
        .filterNot(p => retained.contains(s"groups/${p.getFileName}"))
      doomed.foreach(p => graft.core.Scratch.delete(p.toString))
      doomed.size
    }
  }

  /** Versions with their actions and file-group deltas — the `DESCRIBE
    * HISTORY` surface. Manifest-sized, computed driver-side like the log
    * itself, returned as a DataFrame for uniformity.
    */
  def history(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    manifestFiles(base).map(readManifest).zipWithIndex.map { case (m, v) =>
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
  def tags(base: String): Map[String, Int] = {
    val d = tagDir(base)
    if (!Files.exists(d)) Map.empty
    else {
      val list = Files.list(d)
      try list.iterator().asScala
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(p => p.getFileName.toString ->
          new String(Files.readAllBytes(p), "UTF-8").trim.toInt)
        .toMap
      finally list.close()
    }
  }

  /** Table state at a NAMED ref — [[snapshot]] through [[tagVersion]]. */
  def snapshotTag(spark: SparkSession, base: String, name: String): DataFrame =
    snapshot(spark, base, tagVersion(base, name))
}
