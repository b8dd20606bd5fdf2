package graft.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Log-protocol invariants the oracle gate can't see: copy-on-write file
  * pruning (untouched groups carry over BY REFERENCE), time travel across a
  * destructive commit, change-feed minimality, and history accounting.
  */
class VersionedTableSpec extends SparkSpec {

  /** The group rel-path (`groups/<dir>`) a group or data-file path lies in. */
  private def groupOf(path: String): String =
    "/(groups/[^/]+)".r.findFirstMatchIn(path).map(_.group(1))
      .getOrElse(fail(s"not under groups/: $path"))

  /** The live groups the log lists at `version`, in log order. */
  private def loggedGroups(base: String, version: Int = Int.MaxValue): Seq[String] =
    VersionedTable.recordedSchemas(base, version).map(g => groupOf(g._1))

  /** The groups a read of `base`'s latest snapshot opens. */
  private def readGroups(base: String): Set[String] =
    VersionedTable.snapshot(spark, base).select(input_file_name()).distinct()
      .collect().map(r => groupOf(r.getString(0))).toSet

  test("append/snapshot round-trips and versions are immutable under later commits") {
    import spark.implicits._
    val base = tmpDir("vt_basic")
    val v0 = VersionedTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), base)
    val v1 = VersionedTable.append(Seq((3L, "c")).toDF("k", "s"), base)
    assert(v0 === 0 && v1 === 1)
    assert(VersionedTable.snapshot(spark, base, 0).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L))
    assert(VersionedTable.snapshot(spark, base).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
    // deleting k=1 must not change what version 0 reads (time travel)
    VersionedTable.deleteWhere(spark, base, col("k") === 1L)
    assert(VersionedTable.snapshot(spark, base, 0).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L), "old version still sees the deleted row")
    assert(VersionedTable.snapshot(spark, base).collect().map(_.getLong(0)).sorted
      === Array(2L, 3L))
  }

  test("copy-on-write delete rewrites ONLY groups containing matches") {
    import spark.implicits._
    val base = tmpDir("vt_cow")
    VersionedTable.append(Seq((1L, "x"), (2L, "x")).toDF("k", "s"), base)
    VersionedTable.append(Seq((10L, "y"), (11L, "y")).toDF("k", "s"), base)
    val Seq(first, second) = loggedGroups(base, 1)
    VersionedTable.deleteWhere(spark, base, col("k") === 10L)
    val hist = VersionedTable.history(spark, base).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(hist.toSeq === Seq(
      (0L, "append", 1L, 0L),
      (1L, "append", 1L, 0L),
      (2L, "delete", 1L, 1L)), "exactly one group rewritten, one removed")
    // the untouched first group is still live by its ORIGINAL identity
    val live = readGroups(base)
    assert(live.contains(first),
      "group untouched by the predicate carries over by reference")
    assert(!live.contains(second),
      "touched group is replaced by its rewrite")
  }

  test("delete matching nothing commits a no-op version, not a rewrite") {
    import spark.implicits._
    val base = tmpDir("vt_noop")
    VersionedTable.append(Seq((1L, "x")).toDF("k", "s"), base)
    VersionedTable.deleteWhere(spark, base, col("k") === 99L)
    val hist = VersionedTable.history(spark, base).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(hist.toSeq === Seq(("append", 1L, 0L), ("delete_noop", 0L, 0L)))
  }

  test("delete keeps the rows of a touched group whose predicate is NULL") {
    import spark.implicits._
    val base = tmpDir("vt_delete_null")
    VersionedTable.append(
      Seq((1L, Some(5.0)), (2L, Some(500.0)), (3L, Option.empty[Double])).toDF("k", "price"), base)
    VersionedTable.deleteWhere(spark, base, col("price") > 100.0)
    assert(VersionedTable.snapshot(spark, base).collect().map(_.getLong(0)).sorted
      === Array(1L, 3L), "DELETE WHERE removes rows where the predicate is TRUE, not NULL")
  }

  test("change feed reports only genuine inserts/deletes, with bag semantics") {
    import spark.implicits._
    val base = tmpDir("vt_cdf")
    // duplicate row (1,"dup") twice: bag semantics must count copies
    VersionedTable.append(Seq((1L, "dup"), (1L, "dup"), (2L, "keep")).toDF("k", "s"), base)
    VersionedTable.deleteWhere(spark, base, col("k") === 1L)          // v1: CoW rewrite
    VersionedTable.append(Seq((3L, "new")).toDF("k", "s"), base)      // v2
    val changes = VersionedTable.changesBetween(spark, base, 0, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(changes.toSeq === Seq(
      (1L, "dup", "delete"), (1L, "dup", "delete"), (3L, "new", "insert")),
      "carried-over row (2,keep) absent; both copies of the dup deleted")
  }

  test("clustered append: stats skip groups, and skipping is invisible in the result") {
    import spark.implicits._
    val base = tmpDir("vt_cluster")
    val df = (1 to 400).map(i => (i.toLong, i.toDouble)).toDF("k", "price")
    VersionedTable.appendClustered(df, base, "price", nGroups = 4)
    assert(VersionedTable.snapshot(spark, base).count() === 400L,
      "clustering loses no rows")
    val all = VersionedTable.prunedPaths(base, "price",
      Double.NegativeInfinity, Double.PositiveInfinity)
    val pruned = VersionedTable.prunedPaths(base, "price", 120.0, 140.0)
    assert(all.size === 4)
    assert(pruned.size === 1, s"[120,140] lives in ONE quartile group, got $pruned")
    val expect = VersionedTable.snapshot(spark, base)
      .filter(col("price") >= 120.0 && col("price") <= 140.0)
      .collect().map(_.getLong(0)).sorted
    val got = VersionedTable.snapshotRange(spark, base, "price", 120.0, 140.0)
      .collect().map(_.getLong(0)).sorted
    assert(got === expect, "range read ≡ full-snapshot filter")

    // a CoW delete re-collects stats on the rewrite, so skipping stays
    // tight: wiping price > 180 empties the two upper groups entirely
    // (dropped from the manifest) and shrinks the second group's max
    VersionedTable.deleteWhere(spark, base, col("price") > 180.0)
    assert(VersionedTable.snapshot(spark, base).count() === 180L)
    assert(VersionedTable.prunedPaths(base, "price", 250.0, 260.0).isEmpty,
      "post-delete stats exclude the wiped range entirely")
    assert(VersionedTable.snapshotRange(spark, base, "price", 250.0, 260.0).count() === 0L,
      "all-groups-skipped read still answers (empty, with schema)")
  }

  test("null clustering keys survive; statless groups are never skipped") {
    import spark.implicits._
    val base = tmpDir("vt_mixed")
    // v0: a PLAIN append — its group carries no stats
    VersionedTable.append(Seq((1L, Some(5.0))).toDF("k", "price"), base)
    // v1: a clustered append whose input includes a NULL clustering key
    VersionedTable.appendClustered(
      Seq((2L, Some(100.0)), (3L, Option.empty[Double])).toDF("k", "price"),
      base, "price", nGroups = 2)
    assert(VersionedTable.snapshot(spark, base).count() === 3L,
      "null clustering key must not be dropped by the group split")
    // a range far above everything: stat-carrying groups skip, statless stay
    val far = VersionedTable.prunedPaths(base, "price", 1000.0, 2000.0)
    assert(far.nonEmpty, "statless groups are conservatively kept")
    assert(VersionedTable.snapshotRange(spark, base, "price", 1000.0, 2000.0).count() === 0L)
    assert(VersionedTable.snapshotRange(spark, base, "price", 4.0, 6.0)
      .collect().map(_.getLong(0)).toSeq === Seq(1L),
      "rows in statless groups are still found by range reads")
  }

  test("versioned merge: touched groups and inserts rewritten as one group, untouched carries by reference") {
    import spark.implicits._
    val base = tmpDir("vt_merge")
    VersionedTable.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "x"), base)
    VersionedTable.append(Seq((10L, "j", 100.0)).toDF("k", "s", "x"), base)
    VersionedTable.append(Seq((20L, "z", 7.0)).toDF("k", "s", "x"), base)
    val Seq(g0, _, g2) = loggedGroups(base, 2)
    val source = Seq(
      (2L, "B", 5.0),     // matched in g0 → update (x += 5)
      (10L, "del", 0.0),  // matched in g1 → delete
      (3L, "c", 30.0),    // not matched → insert
      (4L, "skip", 0.0)   // not matched but insertWhen rejects it
    ).toDF("k", "s", "x")
    VersionedTable.merge(spark, base, source, keys = Seq("k"),
      updateWhen = Some(lit(true)),
      updateSet = Map("s" -> col("s.s"), "x" -> (col("t.x") + col("s.x"))),
      deleteWhen = Some(col("s.s") === "del"),
      insertWhen = Some(col("s.s") =!= "skip"))
    val got = VersionedTable.snapshot(spark, base).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, "a", 10.0), (2L, "B", 25.0), (3L, "c", 30.0), (20L, "z", 7.0)))
    // time travel: the pre-merge version still reads the old state
    assert(VersionedTable.snapshot(spark, base, 2).count() === 4L)
    // group untouched by any source key carries over by its ORIGINAL identity
    val live = readGroups(base)
    assert(live.contains(g2),
      "untouched group carried by reference")
    assert(!live.contains(g0),
      "touched group replaced by its rewrite")
    val hist = VersionedTable.history(spark, base).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).last
    assert(hist === (("merge", 1L, 2L)),
      "one commit: one group (rewrites + insert) added, two groups removed")
  }

  test("an ambiguous merge source fails BEFORE any manifest lands") {
    import spark.implicits._
    val base = tmpDir("vt_merge_dup")
    VersionedTable.append(Seq((1L, "a")).toDF("k", "s"), base)
    val before = VersionedTable.latestVersion(base)
    intercept[Exception] {
      VersionedTable.merge(spark, base,
        Seq((1L, "x"), (1L, "y")).toDF("k", "s"), keys = Seq("k"),
        updateWhen = Some(lit(true)), updateSet = Map("s" -> col("s.s")))
    }
    assert(VersionedTable.latestVersion(base) === before,
      "failed merge commits nothing — its part-written groups are vacuum garbage")
    assert(VersionedTable.snapshot(spark, base).collect().map(_.getString(1)).toSeq
      === Seq("a"), "table state untouched by the failed merge")
  }

  test("optimistic append: the loser of the version race retries and BOTH commits land") {
    import spark.implicits._
    val base = tmpDir("vt_optimistic_append")
    VersionedTable.append(Seq((1L, "seed")).toDF("k", "s"), base) // v0
    // Writer A resolves v1, but before its conditional put lands, writer B
    // commits v1 — the beforeCommit seam forces the interleave
    // deterministically. A's first put must FAIL (conflict detected, not
    // clobbered), and the retry must land as v2.
    var attempts = List.empty[Int]
    val vA = VersionedTable.append(
      Seq((2L, "a")).toDF("k", "s"), base,
      beforeCommit = { attempt =>
        attempts :+= attempt
        if (attempt == 0)
          VersionedTable.append(Seq((3L, "b")).toDF("k", "s"), base)
      })
    assert(attempts === List(0, 1), "loser retried exactly once")
    assert(vA === 2, "loser re-resolved and landed AFTER the winner")
    assert(VersionedTable.latestVersion(base) === 2)
    assert(VersionedTable.snapshot(spark, base).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L), "both writers' rows present — neither clobbered")
    // the winner's intermediate version stays readable (its manifest was
    // never overwritten by the loser's losing attempt)
    assert(VersionedTable.snapshot(spark, base, 1).collect().map(_.getLong(0)).sorted
      === Array(1L, 3L))
  }

  test("optimistic delete: conflict forces re-resolution against the NEW snapshot") {
    import spark.implicits._
    val base = tmpDir("vt_optimistic_delete")
    VersionedTable.append(Seq((1L, "x"), (2L, "y")).toDF("k", "s"), base) // v0
    // Writer A prepares DELETE k<=2 against v0; before its put, writer B
    // appends (3,"z") — A must re-derive: the retry reads the post-append
    // snapshot, so the delete lands on the new latest without losing B's row.
    val vA = VersionedTable.deleteWhere(spark, base, col("k") <= 2L,
      beforeCommit = { attempt =>
        if (attempt == 0)
          VersionedTable.append(Seq((3L, "z")).toDF("k", "s"), base)
      })
    assert(vA === 2)
    assert(VersionedTable.snapshot(spark, base).collect().map(_.getLong(0)).sorted
      === Array(3L), "delete applied, concurrent append preserved")
    // abandoned attempt-0 rewrite groups are unreferenced; vacuum sweeps them
    val reclaimed = VersionedTable.vacuum(base, retainVersions = 1)
    assert(reclaimed >= 1, "abandoned optimistic rewrite is vacuum garbage")
    assert(VersionedTable.snapshot(spark, base).collect().map(_.getLong(0)).sorted
      === Array(3L))
  }

  test("optimistic merge: loser re-runs its row merges against the NEW snapshot; both writers land") {
    import spark.implicits._
    val base = tmpDir("vt_optimistic_merge")
    VersionedTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), base) // v0
    // Writer A resolves v0 and prepares (update k=2: s := t.s+"+A"; insert
    // k=4). Before A's conditional put, writer B commits its own merge on
    // the SAME key (k=2: s := t.s+"+B"; insert k=3) as v1. A's first put
    // must fail; the retry must RE-RUN the row-level merge against B's
    // committed state — a blind retry of A's stale manifest would land
    // "b+A", silently dropping B's update.
    var attempts = List.empty[Int]
    val vA = VersionedTable.merge(spark, base,
      Seq((2L, "srcA"), (4L, "d")).toDF("k", "s"), keys = Seq("k"),
      updateWhen = Some(lit(true)),
      updateSet = Map("s" -> concat(col("t.s"), lit("+A"))),
      beforeCommit = { attempt =>
        attempts :+= attempt
        if (attempt == 0)
          VersionedTable.merge(spark, base,
            Seq((2L, "srcB"), (3L, "c")).toDF("k", "s"), keys = Seq("k"),
            updateWhen = Some(lit(true)),
            updateSet = Map("s" -> concat(col("t.s"), lit("+B"))))
      })
    assert(attempts === List(0, 1), "loser retried exactly once")
    assert(vA === 2, "loser re-resolved and landed AFTER the winner")
    val snap = VersionedTable.snapshot(spark, base).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap === Map(1L -> "a", 2L -> "b+B+A", 3L -> "c", 4L -> "d"),
      "updates COMPOSE (b+B+A, not b+A) and both inserts land")
    // the winner's intermediate version stays readable — its manifest and
    // data groups were never touched by the loser's abandoned attempt
    val v1 = VersionedTable.snapshot(spark, base, 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1 === Map(1L -> "a", 2L -> "b+B", 3L -> "c"))
    // abandoned attempt-0 groups are unreferenced vacuum garbage
    assert(VersionedTable.vacuum(base, retainVersions = 1) >= 1)
    assert(VersionedTable.snapshot(spark, base).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap === snap)
  }

  test("every writer lands after losing the version race; old versions read as before") {
    import spark.implicits._
    val base = tmpDir("vt_race_all")
    def rowsAt(v: Int) = VersionedTable.snapshot(spark, base, v).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    def allVersions() = (0 to VersionedTable.latestVersion(base)).map(rowsAt)
    def append(k: Long, s: String) = VersionedTable.append(Seq((k, s)).toDF("k", "s"), base)
    VersionedTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), base) // v0
    /** Runs `write` with a seam that commits `concurrent` before its first
      * put; checks that the write lost that version and landed on the next,
      * with every earlier version reading as before.
      */
    def losesOnce(concurrent: => Unit)(write: (Int => Unit) => Int): Unit = {
      val before = allVersions()
      var attempts = List.empty[Int]
      val v = write { attempt =>
        attempts :+= attempt
        if (attempt == 0) concurrent
      }
      assert(attempts === List(0, 1), "lost once, then landed")
      assert(v === before.size + 1, "landed after the concurrent commit")
      assert(allVersions().take(before.size) === before, "earlier versions unchanged")
    }
    // two appends resolved against the same version, v0
    losesOnce(append(4L, "d"))(seam =>
      VersionedTable.append(Seq((3L, "c")).toDF("k", "s"), base, beforeCommit = seam))
    assert(rowsAt(1) === Seq((1L, "a"), (2L, "b"), (4L, "d")))
    assert(rowsAt(2) === Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    val Seq(_, concurrentGroup, retriedGroup) = loggedGroups(base, 2)
    assert(concurrentGroup !== retriedGroup, "each append wrote its own group")
    losesOnce(append(5L, "e"))(seam =>
      VersionedTable.deleteWhere(spark, base, col("k") === 1L, beforeCommit = seam))
    assert(rowsAt(4) === Seq((2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    losesOnce(append(7L, "g"))(seam =>
      VersionedTable.merge(spark, base, Seq((2L, "B"), (6L, "f")).toDF("k", "s"),
        keys = Seq("k"), updateWhen = Some(lit(true)), updateSet = Map("s" -> col("s.s")),
        beforeCommit = seam))
    assert(rowsAt(6) ===
      Seq((2L, "B"), (3L, "c"), (4L, "d"), (5L, "e"), (6L, "f"), (7L, "g")))
  }

  test("merge into a table with no version inserts, even after losing v0") {
    import spark.implicits._
    // no race: the admitted source rows become version 0
    val fresh = tmpDir("vt_merge_absent")
    assert(VersionedTable.merge(spark, fresh, Seq((1L, "a"), (2L, "skip")).toDF("k", "s"),
      keys = Seq("k"), insertWhen = Some(col("s.s") =!= "skip")) === 0)
    assert(VersionedTable.snapshot(spark, fresh).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "a")))
    // the merge resolves against the absent table; before its put another
    // writer appends v0, holding an older row of key 1 and a newer one of 2
    val base = tmpDir("vt_merge_absent_race")
    val source = Seq((1L, 10L, "merge"), (2L, 10L, "merge"), (3L, 10L, "merge"))
      .toDF("k", "ts", "s")
    var attempts = List.empty[Int]
    val v = VersionedTable.merge(spark, base, source, keys = Seq("k"),
      updateWhen = Some(col("s.ts") > col("t.ts")),
      updateSet = Map("ts" -> col("s.ts"), "s" -> col("s.s")),
      beforeCommit = { attempt =>
        attempts :+= attempt
        if (attempt == 0) VersionedTable.append(
          Seq((1L, 5L, "append"), (2L, 20L, "append"), (4L, 5L, "append"))
            .toDF("k", "ts", "s"), base)
      })
    assert(attempts === List(0, 1) && v === 1)
    val rows = VersionedTable.snapshot(spark, base).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(rows === Seq((1L, 10L, "merge"), (2L, 20L, "append"), (3L, 10L, "merge"),
      (4L, 5L, "append")), "one row per key, the newer one")
  }

  test("a commit that loses every version race throws at the retry bound") {
    import spark.implicits._
    val base = tmpDir("vt_conflict_detect")
    VersionedTable.append(Seq((1L, "a")).toDF("k", "s"), base) // v0
    def manifest(v: Int) = Paths.get(base, "_log", f"v$v%05d.txt")
    def stolen(v: Int) = s"action stolen $v\n"
    // before every put, another process claims the version the attempt
    // resolved, by writing its manifest directly
    var attempts = 0
    val err = intercept[java.util.ConcurrentModificationException] {
      VersionedTable.deleteWhere(spark, base, col("k") === 1L,
        beforeCommit = { _ =>
          attempts += 1
          Files.write(manifest(attempts), stolen(attempts).getBytes("UTF-8"))
        })
    }
    assert(attempts > 1, "the loser retried before giving up")
    assert(err.getMessage.contains(s"each of its $attempts attempts"), err.getMessage)
    // the stolen manifests were never overwritten
    assert(VersionedTable.latestVersion(base) === attempts)
    (1 to attempts).foreach { v =>
      assert(new String(Files.readAllBytes(manifest(v)), "UTF-8") === stolen(v), s"v$v")
    }
    assert(VersionedTable.snapshot(spark, base).collect().map(_.getLong(0)).toSeq
      === Seq(1L), "the delete never landed")
  }

  test("a torn manifest write is invisible: only atomically moved manifests count") {
    import spark.implicits._
    val base = tmpDir("vt_torn")
    VersionedTable.append(Seq((1L, "a")).toDF("k", "s"), base)
    // simulate a writer that crashed between temp-write and atomic move
    Files.write(Paths.get(base, "_log", ".v00001.txt.tmp"),
      "action append\nadd groups/ghost\n".getBytes("UTF-8"))
    assert(VersionedTable.latestVersion(base) === 0, "tmp manifest is not a version")
    assert(VersionedTable.snapshot(spark, base).count() === 1L)
  }

  test("optimize bin-packs small groups, keeps rows identical, preserves time travel") {
    import spark.implicits._
    val base = tmpDir("vt_optimize")
    VersionedTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), base)  // v0
    VersionedTable.append(Seq((3L, "c")).toDF("k", "s"), base)             // v1
    VersionedTable.append(Seq((4L, "d")).toDF("k", "s"), base)             // v2
    val before = VersionedTable.snapshot(spark, base).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val v3 = VersionedTable.optimize(spark, base) // everything is tiny → all merge
    assert(v3 === 3)
    val after = VersionedTable.snapshot(spark, base)
    assert(after.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      === before.toSeq, "optimize never changes table contents")
    val liveDirs = readGroups(base)
    assert(liveDirs.size === 1, s"three small groups packed into one, got $liveDirs")
    // time travel to the fragmented history still works
    assert(VersionedTable.snapshot(spark, base, 1).count() === 3L)
    val hist = VersionedTable.history(spark, base).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).last
    assert(hist === (("optimize", 1L, 3L)), "one group added, three removed")
  }

  test("optimize leaves at-size groups alone and no-ops when nothing to pack") {
    import spark.implicits._
    val base = tmpDir("vt_optimize_noop")
    VersionedTable.append(Seq((1L, "a")).toDF("k", "s"), base)
    VersionedTable.optimize(spark, base, smallBytes = 1L) // every group is "big"
    val hist = VersionedTable.history(spark, base).collect().map(_.getString(1))
    assert(hist.last === "optimize_noop")
    assert(VersionedTable.snapshot(spark, base).count() === 1L)
  }

  test("checkpoint accelerates resolution without changing any version's contents") {
    import spark.implicits._
    val base = tmpDir("vt_checkpoint")
    VersionedTable.append(Seq((1L, "a")).toDF("k", "s"), base)             // v0
    VersionedTable.append(Seq((2L, "b")).toDF("k", "s"), base)             // v1
    VersionedTable.deleteWhere(spark, base, col("k") === 1L)               // v2
    val cv = VersionedTable.checkpoint(base)
    assert(cv === 2)
    // post-checkpoint commits fold on top of it
    VersionedTable.append(Seq((3L, "c")).toDF("k", "s"), base)             // v3
    assert(VersionedTable.snapshot(spark, base).collect().map(_.getLong(0)).sorted
      === Array(2L, 3L))
    // pre-checkpoint time travel still folds from scratch
    assert(VersionedTable.snapshot(spark, base, 1).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L))
    // reading exactly AT the checkpointed version uses the checkpoint
    assert(VersionedTable.snapshot(spark, base, 2).collect().map(_.getLong(0)).sorted
      === Array(2L))
  }

  test("vacuum reclaims unreferenced groups; retained versions stay readable") {
    import spark.implicits._
    val base = tmpDir("vt_vacuum")
    VersionedTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), base)  // v0: g00000-0
    VersionedTable.deleteWhere(spark, base, col("k") === 1L)               // v1: rewrite
    // orphan from a "crashed writer": data written, manifest never landed
    Seq((9L, "ghost")).toDF("k", "s").write.parquet(s"$base/groups/g99999-0")
    val reclaimed = VersionedTable.vacuum(base, retainVersions = 1)
    assert(reclaimed === 2, s"v0's replaced group + the orphan, got $reclaimed")
    assert(VersionedTable.snapshot(spark, base).collect().map(_.getLong(0)).toSeq
      === Seq(2L), "latest version intact after vacuum")
    intercept[Exception] {
      VersionedTable.snapshot(spark, base, 0).collect()
    } // vacuumed-away version is no longer time-travelable — Delta's contract
    assert(VersionedTable.history(spark, base).count() === 2L,
      "history rows survive vacuum even when their data does not")
  }

  test("bloom sidecars skip groups on point lookups; skipping invisible in the result") {
    import spark.implicits._
    val base = tmpDir("vt_bloom")
    // 4 hash slices of keys 0..99 → key 42 lives in exactly one group
    VersionedTable.appendBloomIndexed(
      (0L until 100L).map(k => (k, s"v$k")).toDF("k", "s"), base, "k", nGroups = 4)
    val opened = VersionedTable.pointPaths(base, "k", Seq(42L))
    assert(opened.size === 1, s"one bloom-positive group expected, got $opened")
    val rows = VersionedTable.snapshotPoint(spark, base, "k", Seq(42L, 77L, 1000L))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq === Seq((42L, "v42"), (77L, "v77")),
      "absent key matches nothing; present keys fully found")
    // a group without a sidecar for the column is conservatively read
    VersionedTable.append(Seq((200L, "late")).toDF("k", "s"), base)
    val all = VersionedTable.pointPaths(base, "k", Seq(42L))
    assert(all.size === 2, "bloom group + statless late group both open")
    assert(VersionedTable.snapshotPoint(spark, base, "k", Seq(200L))
      .count() === 1L)
  }

  test("optimize preserves evolved columns when compacting mixed-schema groups") {
    import spark.implicits._
    val base = tmpDir("vt_optimize_evolve")
    VersionedTable.append(Seq((1L, "a")).toDF("k", "s"), base)
    VersionedTable.append(Seq((2L, "b", 7.5)).toDF("k", "s", "score"), base)
    VersionedTable.optimize(spark, base) // both tiny → packed into one group
    val rows = VersionedTable.snapshotEvolved(spark, base)
      .select("k", "s", "score").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1)
    assert(rows.toSeq === Seq((1L, "a", None), (2L, "b", Some(7.5))),
      "compaction must not drop columns present in only some groups")
  }

  test("evolving merge adds source columns without rewriting untouched history") {
    import spark.implicits._
    val base = tmpDir("vt_merge_evolve")
    VersionedTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), base)  // touched
    VersionedTable.append(Seq((10L, "x")).toDF("k", "s"), base)           // untouched
    val untouchedGroup = loggedGroups(base, 1).last
    VersionedTable.merge(spark, base,
      Seq((2L, "b2", 9.5), (3L, "c", 1.5)).toDF("k", "s", "score"),
      keys = Seq("k"),
      updateWhen = Some(lit(true)),
      updateSet = Map("s" -> col("s.s"), "score" -> col("s.score")),
      evolveSchema = true)
    val rows = VersionedTable.snapshotEvolved(spark, base)
      .select("k", "s", "score").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1)
    assert(rows.toSeq === Seq(
      (1L, "a", None),          // carried in rewritten group: typed NULL
      (2L, "b2", Some(9.5)),    // updated: gains the new column's value
      (3L, "c", Some(1.5)),     // inserted with it
      (10L, "x", None)),        // untouched group, old schema on disk
      "additive evolution composes with CoW merge")
    // the untouched group's files genuinely keep the OLD schema
    assert(loggedGroups(base).contains(untouchedGroup), "untouched group still live")
    val untouched = spark.read.parquet(s"$base/$untouchedGroup")
    assert(untouched.columns.toSeq === Seq("k", "s"))
    // pre-merge time travel is no wider than it was
    assert(VersionedTable.snapshot(spark, base, 1).columns.toSeq === Seq("k", "s"))
  }

  test("delete and merge over groups of different schemas keep the wider column") {
    import spark.implicits._
    val base = tmpDir("vt_rewrite_evolved")
    VersionedTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), base)
    VersionedTable.append(Seq((3L, "c", 7.5), (4L, "d", 8.5)).toDF("k", "s", "score"), base)
    def rows() = VersionedTable.snapshotEvolved(spark, base)
      .select("k", "s", "score").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1).toSeq
    def lastCommit() = VersionedTable.history(spark, base).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).last
    // both groups hold a match: one read of both, one rewritten group
    VersionedTable.deleteWhere(spark, base, col("k") === 1L || col("k") === 3L)
    assert(lastCommit() === (("delete", 1L, 2L)))
    assert(rows() === Seq((2L, "b", None), (4L, "d", Some(8.5))),
      "the delete's rewrite keeps the column only the wider group had")
    VersionedTable.append(Seq((5L, "e")).toDF("k", "s"), base)
    // a non-evolving merge touching the wide rewrite and the narrow append
    VersionedTable.merge(spark, base, Seq((4L, "D"), (5L, "E")).toDF("k", "s"),
      keys = Seq("k"), updateWhen = Some(lit(true)), updateSet = Map("s" -> col("s.s")))
    assert(lastCommit() === (("merge", 1L, 2L)))
    assert(rows() === Seq((2L, "b", None), (4L, "D", Some(8.5)), (5L, "E", None)),
      "the merge's rewrite keeps the column only the wider group had")
  }

  test("bloom append keeps NULL-key rows in the snapshot") {
    import spark.implicits._
    val base = tmpDir("vt_bloom_null")
    val df = Seq((Some(1L), "a"), (None, "nullkey"), (Some(2L), "b"))
      .toDF("k", "s")
    VersionedTable.appendBloomIndexed(df, base, "k", nGroups = 2)
    assert(VersionedTable.snapshot(spark, base).count() === 3L,
      "NULL keys route to group 0 instead of vanishing")
    // and a point lookup still never returns them
    assert(VersionedTable.snapshotPoint(spark, base, "k", Seq(1L, 2L))
      .count() === 2L)
  }

  test("schema-evolved snapshot unions group schemas; absent columns read NULL") {
    import spark.implicits._
    val base = tmpDir("vt_evolve")
    VersionedTable.append(Seq((1L, "a")).toDF("k", "s"), base)
    VersionedTable.append(Seq((2L, "b", 7.5)).toDF("k", "s", "score"), base)
    val rows = VersionedTable.snapshotEvolved(spark, base)
      .select("k", "s", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1)
    assert(rows.toSeq === Seq((1L, "a", None), (2L, "b", Some(7.5))))
    // the un-evolved read of the OLD version sees the old schema untouched
    assert(VersionedTable.snapshot(spark, base, 0).columns.toSeq === Seq("k", "s"))
  }

  test("restore: undoes a delete as a new commit; history keeps the mistake; vacuum bounds the horizon") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = tmpDir("vt_restore")
    VersionedTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), base)   // v0
    VersionedTable.append(Seq((3L, "c")).toDF("k", "s"), base)              // v1
    VersionedTable.deleteWhere(spark, base, col("k") < 3L)                  // v2: the mistake
    assert(VersionedTable.snapshot(spark, base).count() === 1L)
    val v3 = VersionedTable.restore(base, 1)                                // the undo
    assert(v3 === 3)
    assert(VersionedTable.snapshot(spark, base).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    // append-only history: time travel still shows the mistaken state at v2
    assert(VersionedTable.snapshot(spark, base, 2).count() === 1L)
    val hist = VersionedTable.history(spark, base)
      .select("version", "action").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(hist(3L) === "restore" && hist(2L) === "delete")
    // restoring over a restore works (back to the post-delete state)
    VersionedTable.restore(base, 2)                                         // v4
    assert(VersionedTable.snapshot(spark, base).count() === 1L)
    // vacuum reclaims the v0/v1 groups; restore past the horizon fails loudly
    VersionedTable.vacuum(base, retainVersions = 1)
    val err = intercept[IllegalArgumentException] {
      VersionedTable.restore(base, 1)
    }
    assert(err.getMessage.contains("vacuum reclaimed"))
  }

  test("cdc apply: the rolled-forward replica equals the primary's target version") {
    val sf = "/root/testdata/sf0.001"
    val replica = IoQueries.cdcReplicaState(spark, sf)
    val primary = VersionedTable.snapshot(spark,
      graft.core.Scratch.dir("versioned_orders", sf), version = 3)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    assert(replica.exceptAll(primary).isEmpty && primary.exceptAll(replica).isEmpty)
  }

  test("tags: last-writer-wins refs, unknown/invalid tags are loud, listing complete") {
    val sf = "/root/testdata/sf0.001"
    IoQueries.versionedByTag(spark, sf) // builds the base and tags v1 then v2
    val base = graft.core.Scratch.dir("versioned_orders", sf)
    assert(VersionedTable.tagVersion(base, "audited") === 2, "re-tag moved the ref")
    VersionedTable.setTag(base, "rollback-point", 0)
    assert(VersionedTable.tags(base) ===
      Map("audited" -> 2, "rollback-point" -> 0))
    // reading through the tag IS the explicit snapshot
    val byTag = VersionedTable.snapshotTag(spark, base, "rollback-point")
    val byVersion = VersionedTable.snapshot(spark, base, version = 0)
    assert(byTag.exceptAll(byVersion).isEmpty && byVersion.exceptAll(byTag).isEmpty)
    intercept[IllegalArgumentException](VersionedTable.tagVersion(base, "nope"))
    intercept[IllegalArgumentException](VersionedTable.setTag(base, "future", 99))
    intercept[IllegalArgumentException](VersionedTable.setTag(base, "../evil", 0))
  }

  // ---- the schema in the log ----------------------------------------------

  /** Rows of a table with a struct, a map, an array and a TimestampNTZ
    * column, some of them non-nullable in the frame, which parquet relaxes.
    */
  private def nestedRows(from: Long, until: Long) = spark.range(from, until).select(
    col("id").as("k"), (col("id") * 1.5).as("price"),
    struct(col("id").as("a"), lit("x").as("b")).as("st"),
    map(lit("m"), col("id")).as("mp"),
    array(col("id"), lit(7L)).as("arr"),
    timestamp_seconds(col("id") * 3600L).cast("timestamp_ntz").as("ts"))

  /** Every live group's recorded schema equals a parquet read's inference. */
  private def assertRecorded(base: String, step: String): Unit = {
    val groups = VersionedTable.recordedSchemas(base)
    assert(groups.nonEmpty)
    groups.foreach { case (path, recorded) =>
      assert(recorded === Some(spark.read.parquet(path).schema), s"$step: $path")
    }
  }

  test("every writer records the schema a parquet read of its group infers") {
    val base = tmpDir("vt_schema_writers")
    VersionedTable.append(nestedRows(0, 10), base)
    assertRecorded(base, "append")
    VersionedTable.append(nestedRows(10, 20), base)
    assertRecorded(base, "second append")
    VersionedTable.appendClustered(nestedRows(20, 40), base, "price", nGroups = 2)
    assertRecorded(base, "appendClustered")
    VersionedTable.appendBloomIndexed(nestedRows(40, 60), base, "k", nGroups = 2)
    assertRecorded(base, "appendBloomIndexed")
    VersionedTable.merge(spark, base, nestedRows(5, 15).withColumn("price", lit(0.5)),
      keys = Seq("k"), updateWhen = Some(lit(true)), updateSet = Map("price" -> col("s.price")))
    assertRecorded(base, "merge")
    VersionedTable.merge(spark, base,
      nestedRows(55, 65).withColumn("extra", struct(col("k").as("e"))),
      keys = Seq("k"), updateWhen = Some(lit(true)),
      updateSet = Map("extra" -> col("s.extra")), evolveSchema = true)
    assertRecorded(base, "merge evolveSchema")
    val paths = VersionedTable.recordedSchemas(base).map(_._1)
    assert(VersionedTable.snapshotEvolved(spark, base).schema ===
      spark.read.option("mergeSchema", "true").parquet(paths: _*).schema,
      "the declared union is parquet schema merging's")
    VersionedTable.deleteWhere(spark, base, col("k") === 3L)
    assertRecorded(base, "deleteWhere")
    VersionedTable.optimize(spark, base)
    assertRecorded(base, "optimize")
    VersionedTable.restore(base, 3)
    assertRecorded(base, "restore")
    VersionedTable.checkpoint(base)
    assertRecorded(base, "checkpoint")
    assert(VersionedTable.snapshot(spark, base).count() === 60L)
  }

  test("a snapshot of a table whose log records its schemas starts no Spark job") {
    val base = tmpDir("vt_schema_jobs")
    VersionedTable.appendClustered(nestedRows(0, 40), base, "price", nGroups = 2)
    VersionedTable.appendBloomIndexed(nestedRows(40, 80), base, "k", nGroups = 2)
    VersionedTable.append(nestedRows(80, 90).withColumn("extra", lit("e")), base)
    assert(jobsOf(VersionedTable.snapshot(spark, base, 1)) === 0)
    assert(jobsOf(VersionedTable.snapshotEvolved(spark, base)) === 0)
    assert(jobsOf(VersionedTable.snapshotRange(spark, base, "price", 3.0, 9.0, 1)) === 0)
    assert(jobsOf(VersionedTable.snapshotPoint(spark, base, "k", Seq(42L), 1)) === 0)
    assert(VersionedTable.snapshotEvolved(spark, base).count() === 90L)
  }

  test("a log without schema lines reads row-for-row as plain parquet reads of its groups") {
    import spark.implicits._
    val base = tmpDir("vt_schema_legacy")
    // two groups of different schemas, committed by hand in the format
    // written before the log carried schemas
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.parquet(s"$base/groups/g00000-0")
    Seq((3L, "c", 1.5)).toDF("k", "s", "x").write.parquet(s"$base/groups/g00001-0")
    Files.createDirectories(Paths.get(base, "_log"))
    Files.write(Paths.get(base, "_log", "v00000.txt"),
      "action append\nadd groups/g00000-0\n".getBytes("UTF-8"))
    Files.write(Paths.get(base, "_log", "v00001.txt"),
      "action append\nadd groups/g00001-0\n".getBytes("UTF-8"))
    assert(VersionedTable.recordedSchemas(base).forall(_._2.isEmpty))
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.schema === b.schema)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    val g0 = s"$base/groups/g00000-0"
    val g1 = s"$base/groups/g00001-0"
    same(VersionedTable.snapshot(spark, base, 0), spark.read.parquet(g0))
    same(VersionedTable.snapshotEvolved(spark, base),
      spark.read.option("mergeSchema", "true").parquet(g0, g1))
    assert(jobsOf(VersionedTable.snapshot(spark, base, 0)) > 0, "no recorded schema: inferred")
    // a rewrite over an unrecorded group infers its read, and records its own
    VersionedTable.deleteWhere(spark, base, col("k") === 1L)
    val Seq((untouched, none), (rewritten, recorded)) = VersionedTable.recordedSchemas(base)
    assert(untouched === g1 && none.isEmpty)
    assert(recorded === Some(spark.read.parquet(rewritten).schema))
    assert(VersionedTable.snapshotEvolved(spark, base).select("k", "s", "x").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).sortBy(_._1).toSeq ===
      Seq((2L, "b", None), (3L, "c", Some(1.5))))
  }

  test("a mixed-schema history read by the non-evolved snapshot still infers") {
    import spark.implicits._
    val base = tmpDir("vt_schema_mixed")
    VersionedTable.append(Seq((1L, "a")).toDF("k", "s"), base)
    VersionedTable.append(Seq((2L, "b", 7.5)).toDF("k", "s", "score"), base)
    val paths = VersionedTable.recordedSchemas(base).map(_._1)
    assert(jobsOf(VersionedTable.snapshot(spark, base)) > 0, "differing schemas: inferred")
    val snap = VersionedTable.snapshot(spark, base)
    val plain = spark.read.parquet(paths: _*)
    assert(snap.schema === plain.schema)
    assert(snap.exceptAll(plain).isEmpty && plain.exceptAll(snap).isEmpty)
  }

  test("clustered append: the stats ride the group writes and cost no Spark job") {
    import spark.implicits._
    val df = (1 to 400).map(i => (i.toLong, i.toDouble)).toDF("k", "price")
    val clustered = jobsOf(
      VersionedTable.appendClustered(df, tmpDir("vt_stats_jobs"), "price", nGroups = 4))
    // the same quantile pass and four range writes, with no stats at all
    val out = tmpDir("vt_stats_plain")
    val plain = jobsOf {
      val cuts = df.stat.approxQuantile("price", Array(0.25, 0.5, 0.75), 0.001)
      val bounds = (Double.NegativeInfinity +: cuts.toSeq) :+ Double.PositiveInfinity
      bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), k) =>
        df.filter(col("price") >= lo && col("price") < hi).write.parquet(s"$out/g$k")
      }
    }
    assert(clustered === plain)
  }

  // ---- one resolution, no leaked handles -----------------------------------

  test("a range read that skips every group answers with the table's merged schema") {
    import spark.implicits._
    val base = tmpDir("vt_range_empty_evolved")
    VersionedTable.appendClustered(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "price"),
      base, "price", nGroups = 2)
    VersionedTable.appendClustered(Seq((3L, 3.0, "x"), (4L, 4.0, "y")).toDF("k", "price", "tag"),
      base, "price", nGroups = 2)
    assert(VersionedTable.snapshotRange(spark, base, "price", 100.0, 200.0).columns.toSeq ===
      Seq("k", "price", "tag"))
  }

  /** This JVM's open file descriptors, counted through a listing that is
    * closed before the count returns.
    */
  private def openFds(): Long = {
    System.gc()
    val fds = Files.list(Paths.get("/proc/self/fd"))
    try fds.count() finally fds.close()
  }

  test("no file handle outlives a merge, a snapshot or a log read") {
    assume(Files.isDirectory(Paths.get("/proc/self/fd")), "needs /proc/self/fd")
    import spark.implicits._
    val base = tmpDir("vt_fds")
    val rows = (0L until 40L).map(k => (k, k.toDouble, s"v$k")).toDF("k", "price", "s")
    VersionedTable.appendClustered(rows.filter(col("k") < 20L), base, "price", nGroups = 2)
    VersionedTable.appendBloomIndexed(rows.filter(col("k") >= 20L), base, "k", nGroups = 2)
    def merge(k: Long): Unit = VersionedTable.merge(spark, base,
      Seq((k, k.toDouble, s"m$k")).toDF("k", "price", "s"), keys = Seq("k"),
      updateWhen = Some(lit(true)), updateSet = Map("s" -> col("s.s")))
    def reads(): Unit = {
      VersionedTable.latestVersion(base)
      VersionedTable.history(spark, base)
      VersionedTable.vacuum(base)
      VersionedTable.snapshotRange(spark, base, "price", 3.0, 9.0)
      VersionedTable.snapshotPoint(spark, base, "k", Seq(25L))
    }
    // one of each first: what Spark opens once per JVM is open before the count
    merge(0L)
    VersionedTable.snapshot(spark, base)
    reads()
    val before = openFds()
    (1L to 20L).foreach(merge)
    (1 to 20).foreach(_ => VersionedTable.snapshot(spark, base))
    reads()
    val grown = openFds() - before
    assert(grown <= 5, s"$grown more open file descriptors after the calls")
  }

  test("a directory is listed in one place, which closes the listing") {
    val walk = Files.walk(Paths.get(sys.props("user.dir"), "src", "main"))
    val sources =
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    val Def = "def (\\w+)".r
    val sites = sources.flatMap { p =>
      val text = Files.readString(p)
      Iterator.iterate(text.indexOf("Files.list("))(i => text.indexOf("Files.list(", i + 1))
        .takeWhile(_ >= 0)
        .map(i => p.getFileName.toString -> Def.findAllMatchIn(text.take(i)).map(_.group(1))
          .toSeq.lastOption.getOrElse("<top level>"))
    }
    assert(sites === List("VersionedTable.scala" -> "listed"),
      s"directory listings outside the one closing helper: $sites")
  }
}
