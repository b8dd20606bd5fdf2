package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Log-protocol invariants the oracle gate can't see: copy-on-write file
  * pruning (untouched groups carry over BY REFERENCE), time travel across a
  * destructive commit, change-feed minimality, and history accounting.
  */
class VersionedTableSpec extends SparkSpec {

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
    VersionedTable.append(Seq((1L, "x"), (2L, "x")).toDF("k", "s"), base)   // g00000-0
    VersionedTable.append(Seq((10L, "y"), (11L, "y")).toDF("k", "s"), base) // g00001-0
    VersionedTable.deleteWhere(spark, base, col("k") === 10L)
    val hist = VersionedTable.history(spark, base).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(hist.toSeq === Seq(
      (0L, "append", 1L, 0L),
      (1L, "append", 1L, 0L),
      (2L, "delete", 1L, 1L)), "exactly one group rewritten, one removed")
    // the untouched first group is still live by its ORIGINAL identity
    val live = VersionedTable.snapshot(spark, base)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(live.exists(_.contains("/groups/g00000-0/")),
      "group untouched by the predicate carries over by reference")
    assert(!live.exists(_.contains("/groups/g00001-0/")),
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

  test("versioned merge: CoW rewrite + one insert group, untouched carries by reference") {
    import spark.implicits._
    val base = tmpDir("vt_merge")
    VersionedTable.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "x"), base)
    VersionedTable.append(Seq((10L, "j", 100.0)).toDF("k", "s", "x"), base)
    VersionedTable.append(Seq((20L, "z", 7.0)).toDF("k", "s", "x"), base)
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
    val live = VersionedTable.snapshot(spark, base)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(live.exists(_.contains("/groups/g00002-0/")),
      "untouched group carried by reference")
    assert(!live.exists(_.contains("/groups/g00000-0/")),
      "touched group replaced by its rewrite")
    val hist = VersionedTable.history(spark, base).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).last
    assert(hist === (("merge", 3L, 2L)),
      "one commit: two rewrites + one insert group added, two groups removed")
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
    val vA = VersionedTable.appendOptimistic(
      Seq((2L, "a")).toDF("k", "s"), base, writerId = "a0",
      beforeCommit = { attempt =>
        attempts :+= attempt
        if (attempt == 0)
          VersionedTable.appendOptimistic(Seq((3L, "b")).toDF("k", "s"), base, "b0")
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
    val vA = VersionedTable.deleteWhereOptimistic(spark, base, col("k") <= 2L,
      writerId = "a1",
      beforeCommit = { attempt =>
        if (attempt == 0)
          VersionedTable.appendOptimistic(Seq((3L, "z")).toDF("k", "s"), base, "b1")
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
    val vA = VersionedTable.mergeOptimistic(spark, base,
      Seq((2L, "srcA"), (4L, "d")).toDF("k", "s"), keys = Seq("k"),
      updateWhen = Some(lit(true)),
      updateSet = Map("s" -> concat(col("t.s"), lit("+A"))),
      writerId = "ma",
      beforeCommit = { attempt =>
        attempts :+= attempt
        if (attempt == 0)
          VersionedTable.mergeOptimistic(spark, base,
            Seq((2L, "srcB"), (3L, "c")).toDF("k", "s"), keys = Seq("k"),
            updateWhen = Some(lit(true)),
            updateSet = Map("s" -> concat(col("t.s"), lit("+B"))),
            writerId = "mb")
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

  test("single-writer commit DETECTS a stolen version instead of overwriting it") {
    import spark.implicits._
    val base = tmpDir("vt_conflict_detect")
    VersionedTable.append(Seq((1L, "a")).toDF("k", "s"), base) // v0
    // steal v1 by writing its manifest directly (what another process does)
    Files.write(Paths.get(base, "_log", "v00001.txt"),
      "action append\n".getBytes("UTF-8"))
    intercept[java.util.ConcurrentModificationException] {
      // append resolves v1 = taken? No: latestVersion now 1, so append goes
      // to v2 cleanly — force the race at the manifest layer instead
      VersionedTable.deleteWhereOptimistic(spark, base, col("k") === 1L,
        writerId = "c0", maxRetries = 0,
        beforeCommit = { _ =>
          Files.write(Paths.get(base, "_log", "v00002.txt"),
            "action append\n".getBytes("UTF-8"))
        })
    }
    // the stolen manifests were never overwritten
    assert(new String(Files.readAllBytes(Paths.get(base, "_log", "v00002.txt")), "UTF-8")
      === "action append\n")
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
    val liveDirs = after.select(input_file_name()).distinct().collect().map(_.getString(0))
      .flatMap(f => "groups/(g[0-9]+-[0-9]+)".r.findFirstMatchIn(f).map(_.group(1))).distinct
    assert(liveDirs.length === 1, s"three small groups packed into one, got $liveDirs")
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
    val untouched = spark.read.parquet(s"$base/groups/g00001-0")
    assert(untouched.columns.toSeq === Seq("k", "s"))
    // pre-merge time travel is no wider than it was
    assert(VersionedTable.snapshot(spark, base, 1).columns.toSeq === Seq("k", "s"))
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
}
