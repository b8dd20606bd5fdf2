package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Deduplication operators over `documents`: exact, MinHash+LSH with exact
  * Jaccard verification, SimHash. The near-dup family is the canonical
  * LLM-corpus pipeline: shingle → signature → band → bucket-join → verify.
  *
  * Scale design:
  *  - Exact dedup is one hash-aggregate on a 32-char key — shuffle carries the
  *    md5 + doc_id only, never the document body.
  *  - Pairwise Jaccard is NEVER all-pairs: candidate pairs come from LSH
  *    banding, so pair generation is O(n·k) — each document meets only the
  *    handful of documents sharing one of its band keys. The exact verify then
  *    touches |candidates| pairs, not O(n²). At 100 TB this is the only shape
  *    that terminates; any blocking scheme with data-independent key
  *    cardinality (language, length bucket) degenerates to quadratic as the
  *    corpus grows.
  *  - MinHash signatures are computed per-document with array HOFs (no explode
  *    of shingles through a shuffle); one md5 per shingle feeds 16 affine
  *    integer mixes (16× fewer digest calls than hashing per-function). Only
  *    the constant-size signature moves to the LSH band join.
  *  - SimHash packs a document into one 48-bit integer; near-dup candidates are
  *    equal fingerprints (or low Hamming distance at scale).
  *
  * All hashes derive from md5 / integer arithmetic below 2^62 — deterministic
  * and portable across engines, so every stage is oracle-checkable.
  */
object Dedup {

  /** Exact dedup: group documents by content fingerprint, keep the lowest doc_id
    * (deterministic survivor), count copies.
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(TextAnalysis.normText(col("text"))).as("fingerprint"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Distinct character shingles (q-grams) of the normalized text. Guarded for
    * sub-q-length texts: Spark's `sequence(1, n-(q-1))` REVERSES when the stop
    * is below the start (sequence(1,0) = [1,0]), which would fabricate grams —
    * short docs must yield an empty set, like the oracle's `range`.
    */
  private[ops] def shingles(c: Column, q: Int): Column = {
    val t = TextAnalysis.normText(c)
    when(length(t) >= q,
      array_distinct(transform(
        sequence(lit(1), length(t) - lit(q - 1)),
        i => t.substr(i, lit(q)))))
      .otherwise(array().cast("array<string>"))
  }

  val MinhashFuncs = 16
  val BandSize = 4

  /** Universal-hash family over 32-bit shingle hashes: h_i(v) = (A(i)·v + B(i))
    * mod P. P = 2^31-1 (Mersenne prime); A < 2^30 keeps A·v < 2^62 — exact in
    * int64 on every engine, no overflow semantics in play. Constants are
    * arbitrary but FIXED: the DuckDB oracle embeds these exact values.
    */
  val HashP = 2147483647L
  val hashA: IndexedSeq[Long] = (0 until MinhashFuncs).map(i => (1103515245L * (i + 1)) % (1L << 30))
  val hashB: IndexedSeq[Long] = (0 until MinhashFuncs).map(i => (12345L + 2654435761L * i) % HashP)

  /** 32-bit integer hash of one shingle: first 8 hex chars of its md5. */
  private def shingleHash(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** A 16-entry all-null signature — what a null text's signature coalesces
    * to wherever per-entry arithmetic needs a fixed width.
    */
  private def allNullSig: Column =
    array((0 until MinhashFuncs).map(_ => lit(null).cast("long")): _*)

  /** MinHash signatures, long form: (doc_id, h_idx, minhash). One md5 per
    * shingle, then 16 affine integer mixes; the signature entry is the minimum
    * over the document's 4-gram shingles. Evaluated by the native
    * [[graft.functions.MinhashSigExpr]] — one JVM loop per document.
    */
  def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame = {
    // NULL text must still yield 16 (null) signature rows — the expression
    // returns NULL for NULL input and posexplode would silently drop the
    // document, where the HOF spec and the oracle both keep it
    // scan-parallelism floor (r19, Tables.spreadScan scaladoc): the one-md5-
    // per-shingle signature loop pipelines into the scan, which the test
    // layout gives exactly one partition — the head of the whole LSH →
    // verify → CC chain ran on one core. No-op at cluster-scale layouts.
    Tables.spreadScan(Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("doc_id"),
        posexplode(coalesce(
          graft.functions.MinhashSigExpr(TextAnalysis.normText(col("text"))), allNullSig))
          .as(Seq("h_idx", "minhash")))
  }

  /** The same signature as pure built-in HOFs (`transform`/`array_min`), kept
    * as the executable specification the native expression is tested against.
    */
  private[graft] def minhashSignaturesHof(spark: SparkSession, sfDir: String): DataFrame = {
    val sigEntries = (0 until MinhashFuncs).map { i =>
      array_min(transform(
        col("hgrams"),
        v => (lit(hashA(i)) * v + lit(hashB(i))) % lit(HashP)))
    }
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), shingles(col("text"), 4).as("grams"))
      .select(col("doc_id"), transform(col("grams"), shingleHash(_)).as("hgrams"))
      .select(col("doc_id"), posexplode(array(sigEntries: _*)).as(Seq("h_idx", "minhash")))
  }

  /** LSH banding over the MinHash signature: 4 bands × 4 rows; documents sharing
    * any full band value become a candidate pair. Only (band_idx, band key)
    * travels through the shuffle — constant bytes per document per band.
    */
  def lshCandidatePairs(spark: SparkSession, sfDir: String): DataFrame = {
    // null signature entries (texts shorter than the shingle width) must not
    // band: array_join would silently collapse them all to the SAME empty
    // band key, pairing every short doc with every other — the exact O(m²)
    // blowup banding exists to prevent. Dropping the rows matches the oracle,
    // where string_agg over all-NULL yields NULL and NULL keys never equi-join.
    val bands = minhashSignatures(spark, sfDir)
      .filter(col("minhash").isNotNull)
      .groupBy(col("doc_id"), floor(col("h_idx") / BandSize).as("band_idx"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("h_idx"), col("minhash")))),
        s => s.getField("minhash").cast("string")), "|").as("band_key"))
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Near-dup pairs with exact 3-gram Jaccard, LSH-driven: candidate pairs come
    * from [[lshCandidatePairs]] (O(n·k), never all-pairs), then the exact
    * verify computes |∩|/|∪| over distinct 3-gram sets and keeps pairs with
    * similarity ≥ 0.5 in the same language within a ±20-char length window.
    *
    * This closes the canonical shingle → signature → band → verify loop. The
    * two doc_id equi-joins hydrate the NORMALIZED TEXT (not gram arrays) of
    * candidate docs — linear shuffles of compact strings — and the per-pair
    * set intersection runs natively in [[graft.functions.NgramJaccardExpr]].
    *
    * MATERIALIZED ONCE per (session, scale factor): the verify chain is the
    * expensive stage of the dedup pipeline, and three downstream consumers
    * ([[Graph.dupClusters]]'s clustering, the deduped training manifest, and
    * quality-representative selection) all feed on its output. Recomputing it
    * per consumer is the shape that does not survive 100 TB — there the edge
    * table is written to storage once and shared; here the in-JVM analogue is
    * an eager `localCheckpoint` memoized per session. The output is tiny
    * (two ids + two stats per verified pair), so holding it is free.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    cached(verifiedPairsCache, "edges", spark, sfDir)(ngramJaccardCompute(spark, sfDir))

  private val verifiedPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Cache traffic counters PER CACHE LABEL ("edges" = the verified-pair
    * table here, "clusters" = [[Graph]]'s CC label table), read by the memo
    * specs to pin which calls PAID a materialization (miss) and which rode
    * it for free (hit). Per label, so a call that only materialized the
    * cluster cache is not counted as having paid "the dedup chain".
    */
  private[graft] val cacheMisses =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]
  private[graft] val cacheHits =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]
  private def bump(
      m: java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder],
      label: String): Unit =
    m.computeIfAbsent(label, _ => new java.util.concurrent.atomic.LongAdder).increment()
  private[graft] def counterSnapshot(
      m: java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder])
      : Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    m.forEach((k, v) => b += k -> v.sum())
    b.result()
  }

  /** Memoize `body`'s eagerly-checkpointed result per (session, dataset);
    * see [[memo]] for the key.
    */
  private[graft] def cached(
      cache: scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame],
      label: String,
      spark: SparkSession, sfDir: String)(body: => DataFrame): DataFrame =
    memo(cache, label, spark, sfDir)(releaseCheckpoint)(body.localCheckpoint(true))

  /** Memoize `body` per (session, dataset, `variant`). The key holds the
    * session REFERENCE — `SparkSession` keeps default identity equality, so
    * this is the intended per-instance memo without the collision risk of
    * `identityHashCode` (hashes are not unique, and a post-GC session could
    * alias a stale entry bound to a dead SparkContext). The dataset part is
    * its canonical path plus its [[graft.core.Scratch.stamp]], so a rewritten
    * table misses; the entries its old content keyed are `release`d then,
    * since no later lookup can reach them. Entries of stopped sessions are
    * evicted on every access: their checkpoint blocks are gone with the
    * context, and dropping the key is what lets the session be collected.
    */
  private[graft] def memo[V](
      cache: scala.collection.concurrent.TrieMap[(SparkSession, String), V],
      label: String, spark: SparkSession, sfDir: String, variant: String = "")(
      release: V => Unit)(body: => V): V =
    // whole lookup-or-compute under the cache's lock: TrieMap.getOrElseUpdate
    // evaluates its default on every racing thread, which would run the
    // expensive chain twice and strand one thread's eagerly-checkpointed
    // blocks with no handle to unpersist them. The body is minutes of Spark
    // jobs; serializing the sub-millisecond hit path costs nothing.
    cache.synchronized {
      cache.keySet.foreach { k =>
        if (k._1.sparkContext.isStopped) cache.remove(k)
      }
      val dataset = graft.core.Scratch.canonical(sfDir) + "\u0000"
      val current = dataset + graft.core.Scratch.stamp(sfDir)
      val key = (spark, current + variant)
      cache.get(key) match {
        case Some(v) =>
          bump(cacheHits, label)
          v
        case None =>
          cache.keySet.foreach { k =>
            if (k._2.startsWith(dataset) && !k._2.startsWith(current))
              cache.remove(k).foreach(release)
          }
          val v = body
          cache.put(key, v)
          bump(cacheMisses, label)
          v
      }
    }

  /** Drop the blocks behind a `localCheckpoint`ed frame. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  private[graft] def ngramJaccardCompute(spark: SparkSession, sfDir: String): DataFrame = {
    // scan-parallelism floor (r19): normText runs in-scan, and when AQE
    // broadcasts the candidate side the per-pair native verify ALSO lands on
    // this frame's single test-layout partition
    val docs = Tables.spreadScan(Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        TextAnalysis.normText(col("text")).as("norm"))
    val cands = lshCandidatePairs(spark, sfDir)
    val a = docs.select(col("doc_id").as("doc_a"), col("lang").as("lang_a"),
      col("n_chars").as("nc_a"), col("norm").as("norm_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
      col("n_chars").as("nc_b"), col("norm").as("norm_b"))
    cands.join(a, "doc_a").join(b, "doc_b")
      .filter(col("lang_a") === col("lang_b") &&
        abs(col("nc_a") - col("nc_b")) <= 20)
      .withColumn("jc", graft.functions.NgramJaccardExpr(col("norm_a"), col("norm_b"), 3))
      .select(
        col("doc_a"), col("doc_b"),
        col("jc.n_common").as("n_common"),
        col("jc.jaccard").as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** The same verify as pure built-ins (gram arrays + `array_intersect`), kept
    * as the executable specification the native expression is tested against.
    */
  private[graft] def ngramJaccardHof(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        shingles(col("text"), 3).as("grams"))
    val cands = lshCandidatePairs(spark, sfDir)
    val a = docs.select(col("doc_id").as("doc_a"), col("lang").as("lang_a"),
      col("n_chars").as("nc_a"), col("grams").as("grams_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
      col("n_chars").as("nc_b"), col("grams").as("grams_b"))
    val inter = size(array_intersect(col("grams_a"), col("grams_b")))
    val uni = size(col("grams_a")) + size(col("grams_b")) - inter
    cands.join(a, "doc_a").join(b, "doc_b")
      .filter(col("lang_a") === col("lang_b") &&
        abs(col("nc_a") - col("nc_b")) <= 20)
      .select(
        col("doc_a"), col("doc_b"),
        inter.cast("long").as("n_common"),
        (inter.cast("double") / uni).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** MinHash quality probe: for every LSH candidate pair, the signature-
    * agreement estimate of Jaccard (matching entries / 16) next to the exact
    * 3-gram Jaccard, with the absolute error. This is the loop that justifies
    * the sketch: at scale you tune bands/rows against exactly this error
    * distribution on a sample, then trust the estimate. Costs |candidates|×16
    * narrow rows through one aggregate plus the q17-style text hydration —
    * still O(n·k), never all-pairs.
    */
  def minhashEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = minhashSignatures(spark, sfDir)
    val cands = lshCandidatePairs(spark, sfDir)
    val sa = sigs.select(col("doc_id").as("doc_a"), col("h_idx"), col("minhash").as("mh_a"))
    val sb = sigs.select(col("doc_id").as("doc_b2"), col("h_idx").as("h_idx_b"),
      col("minhash").as("mh_b"))
    val est = cands
      .join(sa, "doc_a")
      .join(sb, col("doc_b") === col("doc_b2") && col("h_idx") === col("h_idx_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg((sum(when(col("mh_a") === col("mh_b"), 1L).otherwise(0L)).cast("double") /
        MinhashFuncs).as("est_jaccard"))
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextAnalysis.normText(col("text")).as("norm"))
    est
      .join(docs.select(col("doc_id").as("doc_a"), col("norm").as("norm_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("norm").as("norm_b")), "doc_b")
      .withColumn("jc", graft.functions.NgramJaccardExpr(col("norm_a"), col("norm_b"), 3))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        col("jc.jaccard").as("jaccard"),
        abs(col("est_jaccard") - col("jc.jaccard")).as("abs_err"))
  }

  /** LSH-DEDUP RECALL INSTRUMENT — q296's tuning shape pointed at the
    * MinHash index: nothing in the q19 pipeline says whether 4 bands × 4
    * rows actually CATCHES the near-duplicates the verify would confirm.
    * This query measures it: on a deterministic hash stratum of the corpus,
    * compute the exact ground truth (ALL qualifying pairs with 3-gram
    * Jaccard ≥ `tau` — the q17 verify predicate, including its same-lang and
    * ±20-char gates) and score EVERY band layout of the 16-entry signature
    * ((16×1), (8×2), (4×4), (2×8), (1×16)) by the share of true pairs it
    * would band together. This is the number that sizes bands before a
    * 100 TB run: more rows per band = fewer, cleaner candidates but lower
    * recall — the row that matters is (4, 4), the production layout, read
    * against its neighbors.
    *
    * Ground truth is honest only if it is NOT LSH-derived, which forces a
    * pair scan — bounded two ways: the stratum (content-addressed
    * `strataPermille`‰ of documents; at a fixed corpus this is the q62
    * bounded-probe class, and at 100 TB the knob drops to hold the stratum
    * at a FIXED absolute size, documented here rather than discovered in
    * production), and the ±20-char length gate spelled as an EQUI-join:
    * length buckets of width 20, each doc probing its three adjacent
    * buckets, so the pair generator is (lang, bucket)-local — never a
    * cartesian within the stratum.
    *
    * A band "catches" a pair iff every signature entry in the band matches
    * (null entries — sub-4-char texts — match nothing, exactly as q19 drops
    * null bands). Output: one row per layout — (n_bands, rows_per_band,
    * n_true_pairs, n_caught, recall); n_true_pairs repeats by the q243
    * repeated-total convention.
    */
  def lshRecall(spark: SparkSession, sfDir: String,
      strataPermille: Int = 100, salt: String = "recall_v1",
      tau: Double = 0.5): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .filter(Corpus.hashBucket(col("doc_id"), salt) < strataPermille)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        TextAnalysis.normText(col("text")).as("norm"))
      .withColumn("sig",
        graft.functions.MinhashSigExpr(col("norm")))
      .withColumn("bkt", expr("n_chars div 20"))
    val a = base.select(col("doc_id").as("doc_a"), col("lang"),
        col("n_chars").as("nc_a"), col("norm").as("norm_a"), col("sig").as("sig_a"),
        explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("k"))
    val b = base.select(col("doc_id").as("doc_b"), col("lang"),
      col("n_chars").as("nc_b"), col("norm").as("norm_b"), col("sig").as("sig_b"),
      col("bkt").as("k"))
    val truth = a.join(b, Seq("lang", "k"))
      .filter(col("doc_a") < col("doc_b") && abs(col("nc_a") - col("nc_b")) <= 20)
      .withColumn("jc", graft.functions.NgramJaccardExpr(col("norm_a"), col("norm_b"), 3))
      .filter(col("jc.jaccard") >= tau)
      // per-entry signature agreement; null entries (short/null text) never
      // match — the same contract under which q19 drops null bands. A null
      // SIGNATURE coalesces to 16 null entries so eq is always 16 wide.
      .withColumn("eq", zip_with(
        coalesce(col("sig_a"), allNullSig),
        coalesce(col("sig_b"), allNullSig),
        (x, y) => coalesce(x === y, lit(false))))
    val layouts = Seq(16 -> 1, 8 -> 2, 4 -> 4, 2 -> 8, 1 -> 16)
    val scoredLayouts = layouts.map { case (nb, r) =>
      val caught = (0 until nb).map { bi =>
        (0 until r).map(j => element_at(col("eq"), bi * r + j + 1)).reduce(_ && _)
      }.reduce(_ || _)
      struct(lit(nb.toLong).as("n_bands"), lit(r.toLong).as("rows_per_band"),
        caught.as("caught"))
    }
    val counts = truth.select(explode(array(scoredLayouts: _*)).as("s"))
      .groupBy(col("s.n_bands").as("n_bands"),
        col("s.rows_per_band").as("rows_per_band"))
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(when(col("s.caught"), 1L).otherwise(0L)).as("n_caught"))
    // every layout surfaces even when the truth set is EMPTY (a scale factor
    // whose stratum holds no Jaccard ≥ τ pair): the oracle's five ungrouped
    // arms emit (n_true_pairs 0, n_caught NULL, recall NULL) there, while a
    // bare groupBy would emit zero rows — so the five layouts are a static
    // broadcast frame left-joined against the grouped counts, and the two
    // engines agree on the empty shape as well as the populated one.
    val layoutRows = spark.range(1).select(explode(array(layouts.map {
        case (nb, r) => struct(lit(nb.toLong).as("n_bands"),
          lit(r.toLong).as("rows_per_band"))
      }: _*)).as("l"))
      .select(col("l.n_bands").as("n_bands"),
        col("l.rows_per_band").as("rows_per_band"))
    broadcast(layoutRows).join(counts, Seq("n_bands", "rows_per_band"), "left")
      .select(col("n_bands"), col("rows_per_band"),
        coalesce(col("n_true_pairs"), lit(0L)).as("n_true_pairs"),
        col("n_caught"),
        (col("n_caught").cast("double") / col("n_true_pairs").cast("double"))
          .as("recall"))
  }

  /** LSH CANDIDATE-COST CURVE — the other axis of [[lshRecall]]'s tuning
    * table: recall says what a band layout CATCHES; this says what it
    * COSTS. For every layout of the 16-entry signature, on the same
    * content-addressed stratum: the number of non-trivial buckets (a
    * (band_idx, band key) shared by ≥ 2 docs), the GENERATED pair count
    * Σ n·(n−1)/2 over buckets (the band join's actual output volume — the
    * work the verify stage is billed for, counting a pair once per band
    * that produces it), and the DISTINCT candidate count (the verify set
    * after dedup). Read beside q315: more rows per band buys fewer, cleaner
    * candidates at lower recall — these two tables ARE the band-sizing
    * decision for a 100 TB run.
    *
    * Scale: bucket statistics are pure aggregates (no pairs materialize for
    * `generated_pairs` — the n·(n−1)/2 identity does it); the distinct-
    * candidate arm does materialize pairs, which is why the instrument runs
    * on the stratum (the q315 boundedness argument; generated ≤ Σ df² is
    * NOT df-gated here because measuring the ungated cost is the point).
    * Null signatures (sub-4-char texts) never band — all-or-nothing per doc
    * (MinhashSigExpr yields no partial nulls), same q19 contract.
    */
  def lshCandidateCost(spark: SparkSession, sfDir: String,
      strataPermille: Int = 100, salt: String = "recall_v1"): DataFrame = {
    // eagerly checkpointed: ten consumers below (bands × 2 per layout) would
    // otherwise each re-pay the per-shingle md5 pass; the frame is stratum ×
    // 17 values — trivially held
    val sigs = Tables.documents(spark, sfDir)
      .filter(Corpus.hashBucket(col("doc_id"), salt) < strataPermille)
      .select(col("doc_id"),
        graft.functions.MinhashSigExpr(TextAnalysis.normText(col("text"))).as("sig"))
      .filter(element_at(col("sig"), 1).isNotNull)
      .localCheckpoint(true)
    val layouts = Seq(16 -> 1, 8 -> 2, 4 -> 4, 2 -> 8, 1 -> 16)
    layouts.map { case (nb, r) =>
      val bandCols = (0 until nb).map { bi =>
        struct(lit(bi).as("band_idx"),
          concat_ws("|", (0 until r).map(j =>
            element_at(col("sig"), bi * r + j + 1).cast("string")): _*).as("key"))
      }
      val bands = sigs
        .select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
        .select(col("doc_id"), col("b.band_idx").as("band_idx"), col("b.key").as("key"))
      val buckets = bands.groupBy(col("band_idx"), col("key"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      val gen = buckets.agg(count(lit(1)).as("n_buckets"),
        coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).as("generated_pairs"))
      val dc = bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct()
        .agg(count(lit(1)).as("distinct_candidates"))
      gen.crossJoin(dc)
        .select(lit(nb.toLong).as("n_bands"), lit(r.toLong).as("rows_per_band"),
          col("n_buckets"), col("generated_pairs"), col("distinct_candidates"))
    }.reduce(_ unionByName _)
  }

  /** VERIFIED-PAIR SIMILARITY HISTOGRAM — the distribution of exact Jaccard
    * over the q17 near-dup pairs, in 0.05-wide buckets from the 0.5
    * threshold up: the τ-tuning census (a mass pile-up just above the
    * threshold means the cut is arbitrary and τ should move; a bimodal
    * shape separates true duplicates from boilerplate cousins) read BEFORE
    * committing a threshold to a 100 TB dedup run. Bucketing is
    * floor(jaccard·20) on the bit-identical int/int division both engines
    * compute, so bucket membership is exact; pairs at jaccard = 1.0 land in
    * their own top bucket. Rides the session-memoized verified-pair table;
    * everything after is a ≤11-row aggregate.
    */
  def similarityHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = ngramJaccard(spark, sfDir)
    val total = pairs.agg(count(lit(1)).as("n_pairs_total"))
    pairs
      .withColumn("bucket", floor(col("jaccard") * 20).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(total))
      .select((col("bucket").cast("double") / 20.0).as("jaccard_lo"),
        col("n_pairs"), col("n_pairs_total"),
        (col("n_pairs").cast("double") / col("n_pairs_total").cast("double"))
          .as("share"))
  }

  /** 48-bit polynomial token hash, Horner form: acc·131 + ascii(ch) mod 2^48.
    * Stays within int64 (2^48·131 < 2^63) and is expressible in any engine with
    * integer arithmetic — no dependence on a specific hash builtin.
    */
  private val Mod48 = 281474976710656L // 2^48

  private def tokenHash(t: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(t)), j => ascii(t.substr(j, lit(1))).cast("long")),
      lit(0L),
      (acc, c) => (acc * lit(131L) + c) % lit(Mod48))

  /** SimHash document fingerprint: for each of 48 bits, sum ±1 votes across all
    * token hashes (occurrences weighted); bit set iff the vote is positive.
    * Near-dups share fingerprints (or differ in few bits). Evaluated by the
    * native [[graft.functions.SimhashExpr]].
    */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    // scan-parallelism floor (r19): one 48-bit vote loop per document, in-scan
    Tables.spreadScan(Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), graft.functions.SimhashExpr(col("text")).as("simhash"))

  /** The same fingerprint as pure built-in HOFs, kept as the executable
    * specification the native expression is tested against.
    */
  private[graft] def simhashHof(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val hashes = transform(toks, t => tokenHash(t))
    // bit positions unrolled at plan-build time (shiftright needs a literal count)
    val sim = (0 until 48).map { b =>
      val vote = aggregate(col("hashes"), lit(0L),
        (acc, h) => acc + shiftright(h, b) % lit(2L) * lit(2L) - lit(1L))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), hashes.as("hashes"))
      .select(col("doc_id"), sim.as("simhash"))
  }

  val SimhashBands = 4
  val SimhashBandBits = 12

  /** SimHash near-dup pairs within Hamming distance ≤ `maxHamming`, found by
    * banding: the 48-bit fingerprint splits into 4 bands of 12 bits, and a pair
    * within Hamming 3 must agree on at least one full band (pigeonhole — 3
    * differing bits cannot touch all 4 bands), so the band equi-join has
    * COMPLETE recall, not probabilistic. Only (band_idx, 12-bit value) keys
    * shuffle; the popcount filter runs on candidates only. This closes the
    * SimHash pipeline the same way LSH closes MinHash: fingerprint → band →
    * bucket-join → verify.
    */
  def simhashPairs(spark: SparkSession, sfDir: String, maxHamming: Int = 3): DataFrame = {
    val mask = (1L << SimhashBandBits) - 1
    val bandVals = (0 until SimhashBands).map(b =>
      shiftright(col("simhash"), b * SimhashBandBits).bitwiseAND(lit(mask)))
    val bands = simhash(spark, sfDir)
      .select(col("doc_id"), col("simhash"),
        posexplode(array(bandVals: _*)).as(Seq("band_idx", "band_val")))
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** CONTAINMENT scoring over the LSH candidates — the ASYMMETRIC
    * near-dup measure Jaccard misses: C(A→B) = |A∩B|/|A| detects a short
    * document quoted inside a long one even when the union-normalized
    * Jaccard is tiny (Broder 1997 distinguishes resemblance vs
    * containment — this is the containment half). Reported both
    * directions plus the max, thresholded on the max. Candidates come
    * from the SAME minhash bands as the Jaccard verify — which are tuned
    * for resemblance, so a tiny-in-huge containment can evade banding
    * (documented recall scope; the dedicated scale path is sampling the
    * SMALL side's grams into the band keys, same join shape). All counts
    * exact ints; the two ratios and their max are identical-double
    * comparisons.
    */
  /** The UN-PERSISTED scoring frame behind [[containmentPairs]] — factored
    * out so PlanSpec can see the real attach-join shape (the
    * public entry materializes through persist + localCheckpoint, whose
    * executedPlan is a bare ExistingRDD scan — the q17 audit caveat).
    */
  private[graft] def containmentScoredCompute(spark: SparkSession, sfDir: String,
      broadcastTextBytesLimit: Long = 2L * 1024 * 1024 * 1024, nSalts: Int = 8): DataFrame = {
    val (a, b) = containmentDocSides(spark, sfDir)
    val pairs = lshCandidatePairs(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism)
    // Broadcast feasibility is a BYTES question, not a doc-count one: 2M docs
    // of 4KB+ text already exceed Spark's 8 GB broadcast cap, so the gate
    // sums octet_length(text) — TRUE UTF-8 bytes, not characters (a char can
    // be up to 4 bytes, so a char-count gate under-counts non-ASCII corpora
    // by up to 4×; normalization only lowercases/collapses, so normalized
    // bytes ≤ raw bytes). One narrow-column aggregate; the 2 GiB default
    // leaves ≥4× headroom under the 8 GB cap regardless of script and
    // bounds per-executor memory at cluster scale.
    val totalBytes = Tables.documents(spark, sfDir)
      .agg(coalesce(sum(octet_length(col("text")).cast("long")), lit(0L)))
      .first().getLong(0)
    val attached =
      if (totalBytes <= broadcastTextBytesLimit)
        pairs.join(broadcast(a), "doc_a").join(broadcast(b), "doc_b")
      else {
        // salt on pair-row identity: hot docs (duplicate-cluster members in
        // many candidate pairs) fan out over nSalts tasks instead of one
        val a2 = a.withColumnRenamed("doc_a", "__bkey_a")
        val b2 = b.withColumnRenamed("doc_b", "__bkey_b")
        Skew.saltedJoin(
            Skew.saltedJoin(pairs, a2, "doc_a", "__bkey_a", nSalts).drop("__bkey_a"),
            b2, "doc_b", "__bkey_b", nSalts)
          .drop("__bkey_b")
      }
    attached.select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
      graft.functions.NgramJaccardExpr(col("norm_a"), col("norm_b"), 3)
        .getField("n_common").as("n_common"))
  }

  /** The normalized per-doc (id, norm text, gram count) projections both
    * containment paths attach — built once here so the compute helper and
    * the public entry agree. */
  private[graft] def containmentDocSides(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    // the distinct-gram count rides the native packed-gram expression, NOT
    // size(shingles(...)): the interpreted transform+array_distinct spelling
    // measured ~250 µs/doc (ProfileQ230 — 12.4 s of q230's 14 s at sf0.1 was
    // these two projections); the native count is one codepoint scan + sort
    // scan-parallelism floor (r19): the normText + native gram-count pass
    // (measured ~250 µs/doc, ProfileQ230) pipelines into the 1-partition scan
    val docs = Tables.spreadScan(Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), TextAnalysis.normText(col("text")).as("norm"))
      .withColumn("ng", graft.functions.NgramCountExpr(col("norm"), 3))
    (docs.select(col("doc_id").as("doc_a"), col("norm").as("norm_a"), col("ng").as("n_a")),
     docs.select(col("doc_id").as("doc_b"), col("norm").as("norm_b"), col("ng").as("n_b")))
  }

  def containmentPairs(spark: SparkSession, sfDir: String,
      minContainment: Double = 0.5,
      broadcastTextBytesLimit: Long = 2L * 1024 * 1024 * 1024, nSalts: Int = 8): DataFrame = {
    // sizes from one per-doc shingle pass; the per-pair intersection runs
    // through the NATIVE NgramJaccardExpr loop (array_intersect over the
    // gram arrays was measured 6× slower in-suite — per-element HOF
    // interpretation, the exact overhead the q17 expression exists to kill)
    val ca = col("n_common").cast("double") / col("n_a").cast("double")
    val cb = col("n_common").cast("double") / col("n_b").cast("double")
    // unlike q17, NO lang/length prefilter applies (containment is exactly
    // the cross-size case), so every candidate is scored. Measured cost:
    // 8.99 s solo cold at sf0.1 on the repo harness (SPARK_GRAFT_ONLY,
    // local[32]; was 19.35 s before the round-13 ProfileQ230-driven fixes —
    // the dominant 12.4 s was the doc-sides' interpreted
    // size(shingles(...)) projections, now the native NgramCountExpr; full
    // stage split in SURVEY §6.1). Three measured traps: (1) string-array `array_intersect`
    // per pair — per-element HOF interpretation, the overhead the native
    // q17 expression exists to kill (was 6× slower); (2) the band join's
    // task layout is SKEWED onto duplicate-cluster hot bands and the
    // threshold filter's pushdown re-expands the scoring expression ~6×
    // per pair (no cross-operator subexpression elimination) — so the
    // NARROW pairs are spread by an explicit repartition, texts attach by
    // BROADCAST when the corpus fits `broadcastTextBytesLimit` total bytes
    // (nothing heavy crosses the pair shuffle) and by the SALTED shuffle
    // join [Skew.saltedJoin] past it — the gate is a runtime sum(octet_length(text))
    // (bytes, not docs: the triangleCensus broadcastEdgeLimit pattern; an
    // ungated broadcast dies on the 8 GB cap at corpus scale), and the
    // scored frame is PERSISTED and materialized under normal AQE
    // execution so every pair is scored exactly once; (3) an eager
    // localCheckpoint as the barrier instead would execute its plan
    // without AQE and re-run the skewed band join unmitigated — it is
    // applied only to the final small result read FROM the persisted
    // scores.
    val scored = containmentScoredCompute(spark, sfDir, broadcastTextBytesLimit, nSalts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scored.count() // materialize with AQE; one scoring pass
    val result = scored
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("n_common"),
        ca.as("cont_a_in_b"), cb.as("cont_b_in_a"),
        greatest(ca, cb).as("max_containment"))
      .filter(col("max_containment") >= minContainment)
      .localCheckpoint(true)
    scored.unpersist()
    result
  }

  /** EXACT SUBSTRING dedup (the Lee et al. 2022 "Deduplicating Training
    * Data" shape, public): pairs of documents sharing at least `minShared`
    * EXACT substrings of length `window` — verbatim-span duplication the
    * shingle/chunk family misses (MinHash needs high set overlap; passage
    * chunks need grid alignment; a 40-char quote inside two otherwise
    * unrelated documents matches neither, but matches here).
    *
    * Dataflow (never all-pairs): every stride-1 window of the normalized
    * text is fingerprinted IN the scan stage by the native rolling-hash
    * expression ([[graft.functions.RollingWindowFpExpr]] — one codepoint
    * pass per document, per-doc distinct included; the per-doc text never
    * crosses an exchange, only (doc_id, fp) longs do). Window sharing then
    * buckets by fingerprint: a document-frequency gate keeps
    * 2 ≤ df ≤ `maxDf` — df=1 windows pair with nothing, and a window in
    * >maxDf docs is boilerplate (license headers, navigation chrome), not
    * duplication; the gate is ALSO what bounds the bucket self-join at
    * Σ df² ≤ maxDf·Σ df instead of quadratic on a hot window. The
    * fingerprint is the q16 trade: 62 bits collision-free in practice, so
    * distinct-counts (and therefore the pair output) are the same as the
    * oracle's md5 buckets — [[substringDedupMd5]] keeps the md5 spelling as
    * the executable spec the rolling form is equivalence-tested against.
    *
    * Output: (doc_a, doc_b, n_shared_windows) — the count of DISTINCT
    * shared window fingerprints per pair, doc_a < doc_b.
    */
  def substringDedup(spark: SparkSession, sfDir: String,
      window: Int = 40, maxDf: Int = 100, minShared: Int = 1,
      bloomMaxItems: Long = 128L * 1024 * 1024): DataFrame = {
    // scan-parallelism floor (r19): the rolling-hash pass (one codepoint scan
    // per document) pipelines into the 1-partition scan — measured 43-task
    // query with a sequential fingerprint stage
    val wins = Tables.spreadScan(Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), TextAnalysis.normText(col("text")).as("t"))
      .filter(length(col("t")) >= window)
      // ONE codepoint pass per document: the native rolling-hash expression
      // emits the document's DISTINCT window fingerprints directly, so the
      // per-doc distinct that was a (doc_id, fp) shuffle in the md5 spelling
      // (explode positions → substr → md5 → distinct, kept below as the
      // executable spec) is now free, and each exploded row is one LONG
      // instead of a 16-char hex string. The fingerprint is engine-internal
      // — the oracle still fingerprints with md5, which gates the same
      // pair/count output because a distinct-count only moves if a
      // fingerprint COLLIDES (see RollingWindowFpExpr's scaladoc).
      .select(col("doc_id"),
        explode(graft.functions.RollingWindowFpExpr(col("t"), window)).as("fp"))
      // PERSISTED: the fingerprint pass has THREE consumers (the df gate and
      // both self-join sides) and AQE does not exchange-reuse across them —
      // measured 4 parquet scans / 0 ReusedExchange, 3× the window-pass work
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    wins.count() // materialize once, under AQE
    // PERSISTED too (r20): the df gate's output has three consumers of its
    // own (the bloom build and both self-join sides), and its input is the
    // full window table — one aggregate pass instead of two or three
    val eligible = wins.groupBy(col("fp"))
      .agg(count(lit(1)).as("df")) // wins is distinct per doc → df = doc frequency
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEligible = eligible.count()
    // Bloom pre-filter (r20, guide §3.2): the eligible⋈wins equi-join stays
    // a sort-merge join under AQE at bench scale (measured — the agg output's
    // estimate never trips the broadcast rewrite), so the FULL window table
    // (mostly df=1 fingerprints that match nothing) was exchanged by fp. A
    // bloom over the df-gated fingerprint set drops definitely-unmatched
    // windows before the exchange — false positives only re-admit rows the
    // join drops, no false negatives, so the pair output is unchanged
    // (probe-verified exceptAll-equal; the md5 spec + oracle gate it too).
    // Sized from the MEASURED eligible count (~9.6 bits/item at 1% fpp) and
    // gated on an item budget: past `bloomMaxItems` (~154 MB of filter) the
    // filter is skipped and the plain join degrades gracefully — the
    // containment byte-gate pattern, a bytes question decided at runtime.
    val cand =
      if (nEligible > 0 && nEligible <= bloomMaxItems) {
        val bf = eligible.stat.bloomFilter("fp", nEligible, 0.01)
        val bfB = spark.sparkContext.broadcast(bf)
        val mightMatch = udf((fp: Long) => bfB.value.mightContainLong(fp))
        wins.filter(mightMatch(col("fp"))).join(eligible, "fp")
      } else wins.join(eligible, "fp")
    val result = cand.as("a").join(cand.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_windows"))
      .filter(col("n_shared_windows") >= minShared)
      .localCheckpoint(true) // pair-sized; frees the window table below
    wins.unpersist()
    eligible.unpersist()
    result
  }

  /** The md5 window-fingerprint spelling [[substringDedup]] replaced — the
    * executable spec (and the oracle's own fingerprint) the rolling-hash
    * form is equivalence-tested against: identical pair output unless a
    * fingerprint collides in exactly one of the two schemes.
    */
  private[graft] def substringDedupMd5(spark: SparkSession, sfDir: String,
      window: Int = 40, maxDf: Int = 100, minShared: Int = 1): DataFrame = {
    val wins = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextAnalysis.normText(col("text")).as("t"))
      .filter(length(col("t")) >= window)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), length(col("t")) - lit(window - 1))).as("i"))
      .select(col("doc_id"),
        substring(md5(col("t").substr(col("i"), lit(window))), 1, 16).as("fp"))
      .distinct()
    val eligible = wins.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("fp"))
    val cand = wins.join(eligible, "fp")
    cand.as("a").join(cand.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_windows"))
      .filter(col("n_shared_windows") >= minShared)
  }
}
