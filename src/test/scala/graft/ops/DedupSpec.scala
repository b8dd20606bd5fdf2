package graft.ops

import graft.SparkSpec
import graft.core.Memo

/** Near-dup pipeline invariants that the oracle can't see: the short-text
  * shingle guard (Spark's sequence() reverses when start > stop) and the
  * survivor choice in exact dedup.
  */
class DedupSpec extends SparkSpec {

  test("shingle guard: texts shorter than q yield empty gram sets, not fabricated grams") {
    import spark.implicits._
    val docs = Seq((1L, "ab"), (2L, "abcd"), (3L, ""))
      .toDF("doc_id", "text")
    val out = docs
      .select($"doc_id", DedupTestHook.shingles($"text", 3).as("grams"))
      .selectExpr("doc_id", "size(grams) AS n")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(out(1L) == 0) // "ab" shorter than 3 → empty, NOT [positions 1,0]
    assert(out(2L) == 2) // "abcd" → abc, bcd
    assert(out(3L) == 0)
  }

  test("exact dedup keeps the lowest doc_id as survivor and counts copies") {
    import spark.implicits._
    Seq((5L, "same text"), (2L, "same text"), (9L, "other"))
      .toDF("doc_id", "text").createOrReplaceTempView("documents_fixture")
    val out = spark.table("documents_fixture")
      .groupBy(org.apache.spark.sql.functions.md5(
        TextAnalysis.normText(org.apache.spark.sql.functions.col("text"))).as("fp"))
      .agg(
        org.apache.spark.sql.functions.min("doc_id").as("keep_id"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_copies"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((2L, 2L), (9L, 1L)))
  }

  test("short and null texts neither band-collide nor drop signature rows") {
    import spark.implicits._
    val d = tmpDir("dedupshort")
    // two sub-4-char docs + a null text + one normal pair of duplicates
    Seq(
      (1L, "ab", "en", 2), (2L, "xy", "en", 2), (3L, null.asInstanceOf[String], "en", 0),
      (4L, "identical content here for the real pair", "en", 40),
      (5L, "identical content here for the real pair", "en", 40))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // every doc keeps its 16 signature rows (null minhash for 1,2,3)
    val sigCounts = Dedup.minhashSignatures(spark, d)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(sigCounts == Map(1L -> 16L, 2L -> 16L, 3L -> 16L, 4L -> 16L, 5L -> 16L))
    // but null signatures never band: only the real duplicate pair appears
    val pairs = Dedup.lshCandidatePairs(spark, d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((4L, 5L)))
  }

  test("LSH candidate generation finds exact duplicates and the verify confirms them") {
    import spark.implicits._
    val d = tmpDir("deduptest")
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "en", 59),
      (2L, "the quick brown fox jumps over the lazy dog again and again", "en", 59),
      (3L, "completely different content with no overlap to speak of at all", "en", 63))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val pairs = Dedup.ngramJaccard(spark, d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // identical docs found; unrelated doc not paired
  }

  test("containment: a quoted subset scores exactly 1 one-way, jaccard strictly less") {
    import spark.implicits._
    val d = tmpDir("containtest")
    // host extends the quote modestly: resemblance stays high enough for the
    // minhash bands to pair them (LSH is resemblance-tuned — a tiny quote
    // inside a huge host is the operator's documented recall caveat), while
    // the gram sets are strictly asymmetric
    val quote = "the quick brown fox jumps over the lazy dog again tonight for fun"
    val host = quote + " and one more tail"
    Seq((1L, quote, "en", quote.length), (2L, host, "en", host.length))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = Dedup.containmentPairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    assert(rows.length === 1, "the pair must band together (near-identical)")
    val (_, _, nA, nB, nC, ca, cb, mx) = rows.head
    assert(nC === nA, "every gram of the quote appears in the host")
    assert(ca === 1.0, "containment of the quote in the host is exact 1")
    assert(cb < 1.0 && mx === ca, s"asymmetric: $ca vs $cb")
    // the symmetric jaccard is strictly below both containments' max
    assert(nC.toDouble / (nA + nB - nC) < mx)
  }

  test("containment: salted-join fallback returns exactly the broadcast-path rows") {
    import spark.implicits._
    val d = tmpDir("containsalt")
    val quote = "the quick brown fox jumps over the lazy dog again tonight for fun"
    val host = quote + " and one more tail"
    val other = "completely different content with no overlap to speak of at all right"
    Seq((1L, quote, "en", quote.length), (2L, host, "en", host.length),
        (3L, other, "en", other.length), (4L, other, "en", other.length))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    def rows(limit: Long) = Dedup.containmentPairs(spark, d, broadcastTextBytesLimit = limit)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toSeq
    val viaBroadcast = rows(Long.MaxValue)
    val viaSalt = rows(0L) // corpus "too big": force the shuffle fallback
    assert(viaBroadcast.nonEmpty)
    assert(viaSalt === viaBroadcast,
      "both text-attach paths must score identical pairs identically")
  }

  test("substring dedup finds a planted verbatim span and suppresses boilerplate windows") {
    import spark.implicits._
    val d = tmpDir("substringdedup")
    val span = "the exact forty-plus character quotation that both documents share verbatim"
    val boiler = "creative commons attribution license header boilerplate text repeated everywhere"
    // docs 1 and 2 share `span` at different offsets inside unrelated text;
    // docs 3-9 all carry ONLY the boilerplate line (df = 7 > maxDf = 5)
    val docs = Seq(
      (1L, s"completely unrelated preamble before $span and then a different tail", "en"),
      (2L, s"$span with its own continuation that shares nothing else at all here", "en"),
      // tails start with DISTINCT first characters: a window sliding one
      // char past the boilerplate must not match across any two docs
      (3L, s"$boiler alpha", "en"), (4L, s"$boiler beta", "en"),
      (5L, s"$boiler gamma", "en"), (6L, s"$boiler delta", "en"),
      (7L, s"$boiler epsilon", "en"), (8L, s"$boiler zeta", "en"),
      (9L, s"$boiler kappa", "en"),
      (10L, "short", "en")) // below the window length: no windows at all
      .map { case (id, t, l) => (id, t, l, t.length) }
    docs.toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val pairs = Dedup.substringDedup(spark, d, window = 40, maxDf = 5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // the planted span (len 76 ≥ 40) yields shared windows for (1,2); the
    // boilerplate family pairs are suppressed by the df gate
    assert(pairs == Set((1L, 2L)),
      s"expected exactly the planted pair, got $pairs")
    // with the gate relaxed the boilerplate family IS pair-dense — the gate,
    // not luck, is what kept it out
    val ungated = Dedup.substringDedup(spark, d, window = 40, maxDf = 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(ungated.size == 1 + 21, // (1,2) + C(7,2) boilerplate pairs
      s"ungated should add all 21 boilerplate pairs, got ${ungated.size}")
  }

  test("rolling-hash substring dedup ≡ the md5 spelling, corpus and crafted edges") {
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "n_shared_windows")
        .as[(Long, Long, Long)].collect().toSet
    // real corpus: identical pair sets AND shared-window counts
    val sf = "/root/testdata/sf0.001"
    assert(pairs(Dedup.substringDedup(spark, sf)) ===
      pairs(Dedup.substringDedupMd5(spark, sf)))
    // crafted edges: exact window boundary, multi-byte codepoints (the
    // window is a CODEPOINT window on both sides), repeated windows inside
    // one doc (per-doc distinct), and a null text
    val d = tmpDir("rollfp")
    val span = "zß日本語эюя the exact forty char shared span!!"
    assert(span.codePointCount(0, span.length) >= 40)
    Seq(
      (1L, "prefix " + span + " suffix one", "en", 60),
      (2L, span + " completely different tail", "en", 60),
      (3L, span.substring(0, 39), "en", 39),          // below the window
      (4L, null.asInstanceOf[String], "en", 0),
      (5L, span + " " + span, "en", 95))              // repeats: distinct per doc
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val roll = pairs(Dedup.substringDedup(spark, d, maxDf = 10))
    val md5p = pairs(Dedup.substringDedupMd5(spark, d, maxDf = 10))
    assert(roll === md5p, "crafted-edge pair sets diverged")
    assert(roll.map(p => (p._1, p._2)).contains((1L, 2L)), "planted span pairs")
    assert(!roll.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L),
      "sub-window and null docs never pair")
  }

  test("rolling-hash vs md5 substring dedup agree at sf0.01 (collision gate)") {
    // the r15 ADVICE note, applied at a gated scale: a 62-bit rolling-hash
    // collision would surface here as an attributable pair diff against the
    // md5 spec, not as an unexplained oracle-gate mystery at sf0.01. Kept as
    // its OWN test (r16 ADVICE): it reads the large testdata directory and
    // costs material wall-clock, so a failure here attributes to collisions
    // at scale, never to the crafted-edge fixtures above.
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "n_shared_windows")
        .as[(Long, Long, Long)].collect().toSet
    assert(pairs(Dedup.substringDedup(spark, "/root/testdata/sf0.01")) ===
      pairs(Dedup.substringDedupMd5(spark, "/root/testdata/sf0.01")),
      "rolling-hash vs md5 pair sets diverged at sf0.01 — collision suspect")
  }

  test("lsh recall: layout monotonicity, and the (4,4) row IS q19's banding") {
    val sf = "/root/testdata/sf0.001"
    val rows = Dedup.lshRecall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.length === 5, "one row per band layout")
    val total = rows.map(_._3).distinct
    assert(total.length === 1 && total.head > 0,
      "n_true_pairs repeats on every row (the repeated-total convention)")
    rows.foreach { case (nb, r, nt, nc, rec) =>
      assert(nb * r === 16L, "layouts tile the 16-entry signature")
      assert(nc <= nt && rec === nc.toDouble / nt, s"($nb,$r)")
    }
    // coarser rows-per-band can only LOWER recall: a fully-matching r-row
    // band contains fully-matching r/2-row bands, so each layout's catch set
    // nests in the next-finer layout's
    val byRows = rows.sortBy(_._2).map(_._4)
    assert(byRows.toSeq === byRows.sorted.reverse.toSeq,
      s"recall must fall as rows-per-band grows: $rows")
    // reconciliation: the (4,4) layout is EXACTLY q19's production banding,
    // so its caught count equals the verified near-dup pairs (q17 — same
    // candidates, same gates, same threshold) with both ends in the stratum
    val inStratum = graft.core.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .filter(Corpus.hashBucket(
        org.apache.spark.sql.functions.col("doc_id"), "recall_v1") < 100)
      .collect().map(_.getLong(0)).toSet
    val verified = Dedup.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .count(p => inStratum(p._1) && inStratum(p._2))
    val caught44 = rows.find(r => r._1 == 4L && r._2 == 4L).get._4
    assert(caught44 === verified.toLong,
      "(4,4) caught set must equal the stratum-restricted q17 pairs")
  }

  test("lsh recall: all five layouts surface on an EMPTY truth set (oracle shape)") {
    // strataPermille = 0 empties the stratum, so no qualifying pair exists.
    // The DuckDB oracle's five ungrouped arms still emit one row per layout
    // there (n_true_pairs 0, n_caught NULL, recall NULL); the static layout
    // frame left-joined in lshRecall makes the Spark side agree on that
    // shape instead of emitting zero rows from a bare groupBy.
    val rows = Dedup.lshRecall(spark, "/root/testdata/sf0.001",
      strataPermille = 0).collect()
    assert(rows.length === 5, "one row per layout even with no true pairs")
    rows.foreach { r =>
      assert(r.getLong(0) * r.getLong(1) === 16L, "layouts tile the signature")
      assert(r.getLong(2) === 0L, "n_true_pairs must coalesce to 0")
      assert(r.isNullAt(3) && r.isNullAt(4), "n_caught/recall NULL on empty")
    }
  }

  test("lsh cost curve: identities hold, candidates nest, (4,4) IS q19's join") {
    val sf = "/root/testdata/sf0.001"
    val rows = Dedup.lshCandidateCost(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.length === 5)
    rows.foreach { case (nb, r, nBuckets, gen, dc) =>
      assert(nb * r === 16L)
      // every non-trivial bucket contributes ≥1 generated pair, and dedup
      // can only shrink the generated multiset
      assert(gen >= nBuckets && dc <= gen, s"($nb,$r)")
      assert(dc >= 1L || gen === 0L, s"($nb,$r) generated pairs imply candidates")
    }
    // finer layouts (fewer rows per band) can only ADD candidates: a full
    // r-row band match contains full r/2-row matches
    val byRows = rows.sortBy(_._2).map(_._5)
    assert(byRows.toSeq === byRows.sorted.reverse.toSeq,
      s"distinct candidates must fall as rows-per-band grows: $rows")
    // reconciliation: the (4,4) arm is exactly q19's banding — its distinct
    // candidates equal the q19 pair set restricted to the stratum
    val inStratum = graft.core.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .filter(Corpus.hashBucket(
        org.apache.spark.sql.functions.col("doc_id"), "recall_v1") < 100)
      .collect().map(_.getLong(0)).toSet
    val q19 = Dedup.lshCandidatePairs(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .count(p => inStratum(p._1) && inStratum(p._2))
    assert(rows.find(r => r._1 == 4L && r._2 == 4L).get._5 === q19.toLong)
    // cross-instrument: a layout's caught-true-pair count never exceeds its
    // candidate count (caught pairs ARE candidates that verified)
    val recall = Dedup.lshRecall(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    rows.foreach { case (nb, r, _, _, dc) =>
      assert(recall((nb, r)) <= dc, s"($nb,$r) caught > candidates")
    }
  }

  test("similarity histogram: buckets recount q17's own pairs exactly") {
    val sf = "/root/testdata/sf0.001"
    val pairs = Dedup.ngramJaccard(spark, sf).select("jaccard").collect()
      .map(_.getDouble(0))
    val rows = Dedup.similarityHistogram(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && pairs.nonEmpty)
    assert(rows.map(_._2).sum === pairs.length.toLong, "buckets partition the pairs")
    rows.foreach { case (lo, n, tot, share) =>
      assert(lo >= 0.5 && lo <= 1.0, s"bucket $lo below the verify threshold")
      assert(tot === pairs.length.toLong && share === n.toDouble / tot)
      assert(n === pairs.count(j => math.floor(j * 20) / 20.0 == lo).toLong,
        s"bucket $lo recount")
    }
  }

  test("a rewritten documents table misses the verified-pair memo and releases the old entry") {
    import spark.implicits._
    val d = datasetCopy("/root/testdata/sf0.001", "dedup-memo")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    def persisted(id: Int): Boolean = spark.sparkContext.getPersistentRDDs.contains(id)
    try {
      val first = Dedup.ngramJaccard(spark, d)
      val before = pairs(first)
      val oldRdds = first.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
      assert(before.nonEmpty && oldRdds.nonEmpty && oldRdds.forall(persisted))
      val dropped = before.head._1
      rewriteTable(d, "documents")(
        _.filter(org.apache.spark.sql.functions.col("doc_id") =!= dropped))
      val m0 = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("edges", 0L)
      val after = pairs(Dedup.ngramJaccard(spark, d))
      assert(Memo.counterSnapshot(Memo.cacheMisses).getOrElse("edges", 0L) > m0,
        "the rewritten table missed the memo")
      assert(after === pairs(Dedup.ngramJaccardCompute(spark, d)))
      assert(after != before && after.forall(p => p._1 != dropped && p._2 != dropped))
      assert(!oldRdds.exists(persisted), "the superseded entry's blocks were released")
    } finally graft.core.Scratch.delete(new java.io.File(d).getParent)
  }
}

/** Test access to the package-private shingle builder. */
object DedupTestHook {
  def shingles(c: org.apache.spark.sql.Column, q: Int): org.apache.spark.sql.Column =
    graft.ops.Dedup.shingles(c, q)
}
