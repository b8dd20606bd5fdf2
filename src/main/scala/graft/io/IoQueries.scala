package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, when}

import graft.core.{Scratch, Tables}
import graft.etl.Marts
import graft.ledger.JdbcLedger
import graft.pipeline.{PipelineConfig, SalesEtlJob}

/** Oracle-checkable drivers for the I/O + control-plane surface. Sinks and the
  * orchestrator are side-effecting, so each query here performs the effect into
  * a per-dataset [[Scratch]] area and returns the READ-BACK data — the oracle
  * then checks the round trip end-to-end (write fidelity, not just plan
  * shape).
  */
object IoQueries {

  /** S2+S6: write `customer` over JDBC (embedded Derby), read it back. */
  def jdbcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val conn = JdbcConn(s"jdbc:derby:${Scratch.dir("derby_rt", sfDir)};create=true")
    Jdbc.write(Tables.customer(spark, sfDir), conn, "customer_rt", SaveMode.Overwrite,
      maxConnections = Some(1))
    Jdbc.read(spark, conn, "customer_rt")
  }

  /** JSON-lines source with an EXPLICIT schema (the same declare-don't-infer
    * stance as the CSV reader, SURVEY §2.1 S1): documents round-trip through
    * a JSONL scratch written once per dataset. Inference on JSON is a
    * full extra pass at 100 TB and types drift per batch — the declared
    * schema makes the read one pass and stable.
    */
  def jsonSourceRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Scratch.once("json_src", sfDir)(Tables.documents(spark, sfDir).write.json(_))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    spark.read.schema(schema).json(dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** ORC round trip — the other columnar format in the distribution. Same
    * losslessness contract as the parquet/compaction paths; NTZ timestamps
    * survive (ORC stores them zone-free natively).
    */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.orc(Scratch.once("orc_rt", sfDir)(Tables.lineitem(spark, sfDir).write.orc(_)))

  /** S4: partitioned parquet sink of the sales mart, read back through the
    * partition-discovery path. Partition columns come back as path-inferred
    * types, so they are cast back to the mart's declared types for the compare.
    * The scratch is cleared first: Spark's overwrite of an existing ~2100-dir
    * partition tree deletes it directory-by-directory inside the write, which
    * is both slow and noisy to measure.
    */
  def partitionedSinkRoundtrip(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val path = ParquetSink.writePartitioned(Marts.salesTeamMart(spark, sfDir),
      Scratch.fresh("sink_rt", sfDir), "run", Seq("sales_month", "store_id"))
    spark.read.parquet(path)
      .withColumn("store_id", col("store_id").cast("int"))
      .withColumn("sales_month", col("sales_month").cast("string"))
      .select("store_id", "store_name", "sales_person_id", "sales_person_name",
        "order_id", "sales_date", "total_cost", "sales_month")
  }

  /** The whole pipeline (C1–C7 + ingest + enrich + marts + metrics) end to end:
    * stage the lineitem CSV drop into a fresh scratch input dir, run
    * [[SalesEtlJob]] with a Derby ledger and Derby metric sink, and return the
    * customer metric read back over JDBC — the oracle recomputes it straight
    * from the source tables, so ingest→enrich→aggregate→JDBC-write→JDBC-read
    * must all be lossless for this to match.
    */
  def pipelineEndToEnd(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val root = Scratch.dir("pipeline", sfDir)
    // shut down any Derby instance booted over these paths in this JVM before
    // deleting — a booted instance would resurrect run-1 ledger state over the
    // recreated directory and poison the idempotency filter (C4)
    JdbcLedger.shutdownDerby(s"$root/ledgerdb")
    JdbcLedger.shutdownDerby(s"$root/metricsdb")
    Scratch.delete(root)
    val inputDir = s"$root/input"
    Files.createDirectories(Paths.get(inputDir))

    // stage the CSV drop: the same lineitem CSV parts the ingest query uses,
    // plus a wrong-type file that must be quarantined, not processed
    val csvDir = graft.ops.Relational.csvCopyOfLineitem(spark, sfDir)
    new java.io.File(csvDir).listFiles().filter(_.getName.endsWith(".csv")).foreach { f =>
      Files.copy(f.toPath, Paths.get(inputDir, f.getName))
    }
    Files.writeString(Paths.get(inputDir, "notes.txt"), "not a csv")

    val metricsConn = JdbcConn(s"jdbc:derby:$root/metricsdb;create=true")
    val cfg = PipelineConfig(
      inputDir = inputDir,
      stagingBase = s"$root/staging",
      martBase = s"$root/marts",
      sfDir = sfDir,
      runId = "run_0001",
      runDate = java.time.LocalDate.of(2026, 1, 1))
    val ledger = JdbcLedger.derby(s"$root/ledgerdb")
    try SalesEtlJob.run(spark, cfg, ledger,
      (df, table) => Jdbc.write(df, metricsConn, table, maxConnections = Some(1)))
    finally ledger.close()
    Jdbc.read(spark, metricsConn, "customer_monthly_purchase")
  }

  // ---------------------------------------------------------------- versioned

  /** Build the deterministic 4-version orders history the versioned-table
    * queries read (staged once per dataset through [[Scratch.once]]):
    *   v0 append  orders with status F        (initial load)
    *   v1 append  orders with status O        (incremental batch)
    *   v2 delete  o_totalprice < 50000        (copy-on-write GDPR-style purge)
    *   v3 append  orders with status P        (another batch, AFTER the purge
    *                                           — time travel to v2 must not
    *                                           see it, the change feed must)
    */
  private def versionedOrdersBase(spark: SparkSession, sfDir: String): String =
    Scratch.once("versioned_orders", sfDir) { base =>
      val orders = Tables.orders(spark, sfDir)
      VersionedTable.append(orders.filter(col("o_orderstatus") === "F"), base)
      VersionedTable.append(orders.filter(col("o_orderstatus") === "O"), base)
      VersionedTable.deleteWhere(spark, base, col("o_totalprice") < 50000.0)
      VersionedTable.append(orders.filter(col("o_orderstatus") === "P"), base)
    }

  /** Time travel: the table AS OF v2 — after the copy-on-write purge, before
    * the v3 batch. The oracle recomputes that state straight from the source
    * table, so commit protocol + manifest fold + CoW rewrite must all be
    * lossless for the hash to match.
    */
  def versionedAsOf(spark: SparkSession, sfDir: String): DataFrame = {
    val base = versionedOrdersBase(spark, sfDir)
    VersionedTable.snapshot(spark, base, version = 2)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
  }

  /** TABLE READ BY NAMED REF: tag version 2 as `audited` and read through
    * the tag — the "pin the snapshot the model trained on" workflow. The
    * result must be BYTE-identical to q132's explicit time travel (they
    * share one oracle), and re-tagging is exercised on the way: the tag is
    * first pointed at v1 and then MOVED to v2, so the read also proves
    * last-writer-wins ref semantics, not just resolution.
    */
  def versionedByTag(spark: SparkSession, sfDir: String): DataFrame = {
    val base = versionedOrdersBase(spark, sfDir)
    VersionedTable.setTag(base, "audited", 1)
    VersionedTable.setTag(base, "audited", 2)
    VersionedTable.snapshotTag(spark, base, "audited")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
  }

  /** Change feed across v1→v3: the purge's deletes and the v3 batch's
    * inserts — and NOTHING from the CoW rewrite's carried-over rows, which
    * is the property that makes a downstream incremental consumer read
    * O(changes), not O(table).
    */
  def versionedChanges(spark: SparkSession, sfDir: String): DataFrame = {
    val base = versionedOrdersBase(spark, sfDir)
    VersionedTable.changesBetween(spark, base, fromV = 1, toV = 3)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", "_change_type")
  }

  /** Orders range-clustered on `o_totalprice` into 8 stat-carrying file
    * groups (staged once per dataset) — the write-side half of manifest
    * data skipping.
    */
  private def clusteredOrdersBase(spark: SparkSession, sfDir: String): String =
    Scratch.once("clustered_orders", sfDir) { base =>
      VersionedTable.appendClustered(Tables.orders(spark, sfDir), base,
        statsCol = "o_totalprice", nGroups = 8)
    }

  /** Manifest-level data skipping (q135): a totalprice range read opens only
    * the file groups whose [min,max] stats intersect the range — the
    * VersionedTableSpec pins the skip count; the oracle pins that skipping is
    * INVISIBLE in the result (same rows as a plain filter over the full
    * table, which is what it recomputes).
    */
  def clusteredRangeRead(spark: SparkSession, sfDir: String): DataFrame = {
    val base = clusteredOrdersBase(spark, sfDir)
    VersionedTable.snapshotRange(spark, base, "o_totalprice", 100000.0, 150000.0)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate")
  }

  /** The versioned-MERGE history (staged once per dataset):
    *   v0 append  orders with status F              (initial load)
    *   v1 append  orders with status O              (incremental batch)
    *   v2 merge   source = every 5th orderkey, price bumped +1.0:
    *                matched & t.price < 50000  → DELETE
    *                matched otherwise          → UPDATE price=s.price,
    *                                             priority='MERGED'
    *                not matched (status P keys) → INSERT
    * committed copy-on-write through [[VersionedTable.merge]].
    */
  private def mergedOrdersBase(spark: SparkSession, sfDir: String): String =
    Scratch.once("merged_orders", sfDir) { base =>
      val orders = Tables.orders(spark, sfDir)
      VersionedTable.append(orders.filter(col("o_orderstatus") === "F"), base)
      VersionedTable.append(orders.filter(col("o_orderstatus") === "O"), base)
      val source = orders
        .filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      VersionedTable.merge(spark, base, source, keys = Seq("o_orderkey"),
        updateWhen = Some(lit(true)),
        updateSet = Map(
          "o_totalprice" -> col("s.o_totalprice"),
          "o_orderpriority" -> lit("MERGED")),
        deleteWhen = Some(col("t.o_totalprice") < 50000.0))
    }

  /** Versioned MERGE INTO (q136): the post-merge snapshot. The oracle
    * rebuilds the same final state in plain SQL (carried ∪ updated ∪
    * inserted), so merge row semantics + CoW group rewrite + the single
    * atomic commit must all be lossless to hash-match.
    */
  def versionedMergeState(spark: SparkSession, sfDir: String): DataFrame = {
    val base = mergedOrdersBase(spark, sfDir)
    VersionedTable.snapshot(spark, base)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
  }

  /** The full table-maintenance lifecycle on one table (memoized per scale
    * factor):
    *   v0–v2 append  lineitem in 3 slices (`pmod(l_orderkey, 3)`)
    *   v3    delete  l_discount > 0.08    (copy-on-write purge)
    *   v4    optimize                     (bin-pack carried + rewritten groups)
    *   then  checkpoint v4 and vacuum(retain 1) — old group dirs reclaimed.
    */
  private def maintainedLineitemBase(spark: SparkSession, sfDir: String): String =
    Scratch.once("maintained_lineitem", sfDir) { base =>
      val li = Tables.lineitem(spark, sfDir)
      (0 to 2).foreach(k =>
        VersionedTable.append(li.filter(pmod(col("l_orderkey"), lit(3)) === k), base))
      VersionedTable.deleteWhere(spark, base, col("l_discount") > 0.08)
      VersionedTable.optimize(spark, base)
      VersionedTable.checkpoint(base)
      VersionedTable.vacuum(base, retainVersions = 1)
    }

  /** OPTIMIZE + checkpoint + VACUUM (q137): the post-maintenance snapshot,
    * resolved THROUGH the checkpoint over vacuumed storage. The oracle
    * recomputes the surviving rows straight from the source table, so the
    * whole maintenance chain — slice appends, CoW delete, bin-packing
    * rewrite, checkpointed resolution, physical reclamation — must be
    * row-lossless to hash-match.
    */
  def versionedMaintained(spark: SparkSession, sfDir: String): DataFrame = {
    val base = maintainedLineitemBase(spark, sfDir)
    VersionedTable.snapshot(spark, base)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")
  }

  /** Additive schema evolution (memoized): even doc_ids land first WITHOUT
    * `n_chars`; odd doc_ids arrive later carrying it. No history rewrite —
    * each file group keeps its own schema.
    */
  private def evolvedDocsBase(spark: SparkSession, sfDir: String): String =
    Scratch.once("evolved_docs", sfDir) { base =>
      val docs = Tables.documents(spark, sfDir)
      VersionedTable.append(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0).select("doc_id", "lang", "source"),
        base)
      VersionedTable.append(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select("doc_id", "lang", "source", "n_chars"),
        base)
    }

  /** Schema evolution (q138): the evolved snapshot merges both group schemas;
    * rows appended before the column existed read it as NULL. The oracle
    * rebuilds the same union in SQL with an explicit typed NULL, so the
    * merge must neither drop the old rows' other columns nor invent values.
    */
  def evolvedDocsSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val base = evolvedDocsBase(spark, sfDir)
    VersionedTable.snapshotEvolved(spark, base)
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** The evolving-MERGE history (memoized): v0 loads status-F orders with
    * the BASE schema; the merge source carries a NEW column `o_channel`
    * ('WEB') on every 3rd orderkey — matched rows update price and gain the
    * channel, status-O source keys insert with it, untouched groups keep
    * the old schema on disk.
    */
  private def evolvedMergeBase(spark: SparkSession, sfDir: String): String =
    Scratch.once("evolved_merge", sfDir) { base =>
      val orders = Tables.orders(spark, sfDir)
      VersionedTable.append(orders.filter(col("o_orderstatus") === "F"), base)
      val source = orders
        .filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .filter(col("o_orderstatus").isin("F", "O"))
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .withColumn("o_channel", lit("WEB"))
      VersionedTable.merge(spark, base, source, keys = Seq("o_orderkey"),
        updateWhen = Some(lit(true)),
        updateSet = Map(
          "o_totalprice" -> col("s.o_totalprice"),
          "o_channel" -> col("s.o_channel")),
        evolveSchema = true)
    }

  /** Schema-evolving MERGE (q159): the post-merge evolved snapshot — rows
    * untouched by the merge read a typed NULL channel, updated and inserted
    * rows carry 'WEB'. The oracle rebuilds carried ∪ updated ∪ inserted
    * with the explicit NULL, so both the merge row semantics AND the
    * additive schema change must be lossless.
    */
  def evolvedMergeState(spark: SparkSession, sfDir: String): DataFrame = {
    val base = evolvedMergeBase(spark, sfDir)
    VersionedTable.snapshotEvolved(spark, base)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", "o_channel")
  }

  /** Orders hash-sliced into 8 bloom-indexed file groups (memoized). */
  private def bloomOrdersBase(spark: SparkSession, sfDir: String): String =
    Scratch.once("bloom_orders", sfDir) { base =>
      VersionedTable.appendBloomIndexed(Tables.orders(spark, sfDir), base,
        keyCol = "o_orderkey", nGroups = 8)
    }

  /** The point-lookup keys q148 probes — fixed literals shared with the
    * oracle's IN-list (keys absent at a small scale factor simply match
    * nothing, on both sides).
    */
  private[graft] val pointLookupKeys = Seq(1L, 7L, 32L, 128L, 515L, 2048L, 9999L)

  /** Bloom-sidecar point lookup (q148): only file groups whose bloom might
    * contain one of the probed keys are opened; the oracle is a plain
    * IN-filter over the source table, so skipping must be invisible in the
    * result. VersionedTableSpec pins that the opened-group count shrinks.
    */
  def bloomPointLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = bloomOrdersBase(spark, sfDir)
    VersionedTable.snapshotPoint(spark, base, "o_orderkey", pointLookupKeys)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
  }

  /** Multi-writer history under optimistic concurrency (memoized). Two
    * version races are FORCED deterministically via the `beforeCommit` seam,
    * one per conflict class:
    *
    *   v0  append  F orders                       (no race)
    *   v1  append  P orders — a second append steals the version the O
    *       orders' append resolved; that append's conditional put fails,
    *       and it RETRIES the same manifest (blind appends conflict with
    *       nothing) →
    *   v2  append  O orders (the retried commit)
    *   v3  append  o_totalprice ≥ 400000 duplicates — an append steals the
    *       version the DELETE resolved against; the delete must RE-RESOLVE
    *       (its rewrite set depends on the snapshot), so the retry
    *       re-discovers touched groups against v3 — including none of the
    *       duplicates (all ≥ 400000) — and lands
    *   v4  delete  o_totalprice < 50000
    *
    * Final state: every order ≥ 50000 plus the ≥ 400000 duplicates — the
    * oracle recomputes it straight from the source, so BOTH losers'
    * retried commits must have landed losslessly for the hash to match.
    */
  private def concurrentOrdersBase(spark: SparkSession, sfDir: String): String =
    Scratch.once("concurrent_orders", sfDir) { base =>
      val orders = Tables.orders(spark, sfDir)
      VersionedTable.append(orders.filter(col("o_orderstatus") === "F"), base)
      VersionedTable.append(orders.filter(col("o_orderstatus") === "O"), base,
        beforeCommit = { attempt =>
          if (attempt == 0)
            VersionedTable.append(orders.filter(col("o_orderstatus") === "P"), base)
        })
      VersionedTable.deleteWhere(spark, base, col("o_totalprice") < 50000.0,
        beforeCommit = { attempt =>
          if (attempt == 0)
            VersionedTable.append(orders.filter(col("o_totalprice") >= 400000.0), base)
        })
    }

  /** q164: the final snapshot after the two forced commit races above. */
  def concurrentWritersState(spark: SparkSession, sfDir: String): DataFrame = {
    val base = concurrentOrdersBase(spark, sfDir)
    VersionedTable.snapshot(spark, base)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
  }

  /** RESTORE exercised over a "bad deploy" history (memoized):
    *
    *   v0  append  F orders
    *   v1  append  O orders
    *   v2  delete  o_totalprice < 200000   (the mistake)
    *   v3  restore → v1                    (the undo)
    *
    * The q171 snapshot reads v3: every deleted row must be back and the
    * restore itself is a plain append-only commit (history keeps v2, and
    * time travel to it still shows the mistaken state — pinned by
    * VersionedTableSpec).
    */
  private def restoredOrdersBase(spark: SparkSession, sfDir: String): String =
    Scratch.once("restored_orders", sfDir) { base =>
      val orders = Tables.orders(spark, sfDir)
      VersionedTable.append(orders.filter(col("o_orderstatus") === "F"), base)
      VersionedTable.append(orders.filter(col("o_orderstatus") === "O"), base)
      VersionedTable.deleteWhere(spark, base, col("o_totalprice") < 200000.0)
      VersionedTable.restore(base, 1)
    }

  /** q171: the post-restore snapshot — the mistaken delete fully undone. */
  def restoredState(spark: SparkSession, sfDir: String): DataFrame = {
    val base = restoredOrdersBase(spark, sfDir)
    VersionedTable.snapshot(spark, base)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
  }

  /** CDC APPLY — the downstream CONSUMER of the q133 change feed: a replica
    * seeded from the primary's v1 snapshot is rolled forward by applying
    * `changesBetween(1, 3)` — deletes as a keyed MERGE-delete, inserts as a
    * blind append — and must land exactly on the primary's v3 state. This is
    * the O(changes) replication contract the change feed exists for: the
    * replica never re-reads the primary, only its delta stream. Updates
    * arrive as delete+insert pairs in this CDF design, which the two-phase
    * apply (deletes first, then inserts) handles without tripping MERGE's
    * one-source-row-per-key cardinality guard.
    */
  private def cdcReplicaBase(spark: SparkSession, sfDir: String): String = {
    val primary = versionedOrdersBase(spark, sfDir)
    Scratch.once("cdc_replica", sfDir) { root =>
      VersionedTable.append(VersionedTable.snapshot(spark, primary, version = 1), root)
      val changes = VersionedTable.changesBetween(spark, primary, fromV = 1, toV = 3)
      val dels = changes.filter(col("_change_type") === "delete").drop("_change_type")
      if (!dels.isEmpty)
        VersionedTable.merge(spark, root, dels, keys = Seq("o_orderkey"),
          deleteWhen = Some(lit(true)), insertWhen = Some(lit(false)))
      val ins = changes.filter(col("_change_type") === "insert").drop("_change_type")
      if (!ins.isEmpty) VersionedTable.append(ins, root)
    }
  }

  /** q177: the rolled-forward replica — must equal the primary's v3 state
    * (the oracle recomputes it from source; VersionedTableSpec additionally
    * pins replica ≡ primary frame-equality).
    */
  def cdcReplicaState(spark: SparkSession, sfDir: String): DataFrame = {
    val root = cdcReplicaBase(spark, sfDir)
    VersionedTable.snapshot(spark, root)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
  }

  /** q183: anti-entropy TABLE DIFF over a deterministically corrupted copy
    * of the primary's v3 state — rows deleted (key ≡ 0 mod 97), prices
    * perturbed (key ≡ 0 mod 101, not deleted) and phantom rows injected
    * (key+10M for key ≡ 0 mod 103). [[graft.ops.Merge.tableDiff]] must
    * classify exactly those keys; the oracle recomputes every class
    * straight from the corruption rules, so a missed or misclassified key
    * breaks the hash. The output IS the repair set replica sync would
    * apply.
    */
  def tableDiffReport(spark: SparkSession, sfDir: String): DataFrame = {
    val base = versionedOrdersBase(spark, sfDir)
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val primary = VersionedTable.snapshot(spark, base).select(cols.map(col): _*)
    val survived = primary.filter(col("o_orderkey") % 97 =!= 0)
    val corrupted = survived
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 101 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .unionByName(survived.filter(col("o_orderkey") % 103 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    graft.ops.Merge.tableDiff(primary, corrupted, Seq("o_orderkey"))
  }
}
