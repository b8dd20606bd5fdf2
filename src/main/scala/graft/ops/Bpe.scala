package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Fold, Tables}

/** Byte-pair-encoding subword tokenization (Sennrich et al. 2016, public
  * arXiv 1508.07909) — REAL subword token accounting for the corpus, beside
  * the whitespace/regex token counts of [[TextAnalysis]]. Token counts drive
  * training-cost estimates, packing (q66) and length curricula, so the
  * tokenizer belongs in the engine, not a sidecar script.
  *
  * Classic two-phase structure, mapped to Spark's execution model:
  *
  *  1. TRAIN on the word-frequency dictionary, not the corpus: the only
  *     corpus-sized stage is one explode→hash-agg producing (word, freq) —
  *     everything after is vocabulary-bounded. Merge rounds are BATCHED
  *     (the round-10 verdict's scale item): each round is ONE pair-count
  *     aggregate over the dict (distributed; the dict may be 10⁸ rows at
  *     100 TB) of which the driver retrieves the top-`BatchB` candidate
  *     pairs (a B-row probe) and keeps the SYMBOL-DISJOINT prefix-filtered
  *     subset — candidate i survives iff no higher-ranked candidate in the
  *     batch shares a symbol with it, so the kept merges can't interact and
  *     one scan applies them all. A `k`-merge vocabulary costs ⌈k/B⌉ driver
  *     round-trips instead of `k` — the difference between 8 and 4096 job
  *     launches at a real 32k vocab. Ties break deterministically: count
  *     desc, then pair lexicographic; the conflict filter is candidate-
  *     based (checks ALL higher-ranked candidates, kept or not), the
  *     variant both engines can spell identically.
  *  2. APPLY by joining exploded document words against the dict's final
  *     segmentation (broadcast — the dict is small relative to the corpus),
  *     so documents are never re-segmented: each distinct word is segmented
  *     once, corpus-wide.
  *
  * Segmentations are space-delimited symbol strings with sentinel spaces
  * (" h e l l o "); applying merge (a, b) is `replace(seg, " a b ", " a b̲ ")`
  * — left-to-right non-overlapping in Spark, DuckDB and java.lang.String
  * alike. ONE deliberate deviation from canonical BPE: each round applies
  * its merge in a SINGLE scan, and because a replacement consumes the shared
  * sentinel space, immediately adjacent repeats of the same pair merge only
  * once per round (" a b a b " → " ab a b ", where canonical BPE's
  * per-round fixpoint gives " ab ab "). Spark and the oracle implement the
  * identical single-scan rule, so the pipeline stays deterministic and
  * cross-engine gateable; on repetitive words the learned merges/token
  * counts may deviate from a fixpoint BPE trainer. The trade buys `k`
  * unrolled rounds of pure string SQL, so even the TRAINED tokenizer is
  * oracle-gated end to end (q117 gates the learned merge table, q118 the
  * per-document token counts).
  */
object Bpe {

  private def tokens(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  /** Initial segmentation: every character a symbol, sentinel-spaced. */
  private def charSeg(word: Column): Column =
    concat(lit(" "), regexp_replace(word, "(.)", "$1 "))

  /** Adjacent symbol pairs of a segmentation, tab-joined ("a\tb"). */
  private def symPairs(seg: Column): Column = {
    val syms = split(trim(seg), " ")
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        i => concat(element_at(syms, i), lit("\t"), element_at(syms, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** The corpus word-frequency dictionary — the single corpus-sized stage. */
  private def wordDict(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Trained-tokenizer memo: q117 and q118 share one training run per
    * (session, dataset, k) through [[graft.core.Memo]], counted under the
    * `bpe` label. The cached segs frame is checkpointed, so reuse never
    * replays the rounds.
    */
  private val trainedCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String),
      (Seq[(String, String)], DataFrame)]()

  private def train(spark: SparkSession, sfDir: String, k: Int)
      : (Seq[(String, String)], DataFrame) =
    graft.core.Memo(trainedCache, "bpe", spark, sfDir, s"#k=$k")(
      r => Fold.release(r._2))(trainUncached(spark, sfDir, k))

  /** Candidates per batched merge round — ⌈k/BatchB⌉ driver round-trips
    * total. Mirrored EXACTLY by the oracle's per-round candidate/selection
    * CTEs (SparkEntry.bpeCtes), so keep the two in lockstep.
    */
  private[graft] val BatchB = 8

  /** Train up to `k` merges in ⌈k/BatchB⌉ batched rounds; returns (merges in
    * rank order, dict with final seg). Each round probes the top-BatchB
    * pairs and keeps the candidate-prefix symbol-disjoint subset (see object
    * scaladoc); conflicts may teach fewer than `k` merges total — the
    * oracle unrolls the identical rule, so the learned table is still
    * hash-gated. A round with no remaining pairs stops training early
    * (mirrored by the oracle's empty-selection no-op rounds).
    */
  private def trainUncached(spark: SparkSession, sfDir: String, k: Int)
      : (Seq[(String, String)], DataFrame) = {
    var segs = wordDict(spark, sfDir)
      .withColumn("seg", charSeg(col("word")))
      .localCheckpoint(true) // dict-sized; rounds must not rescan the corpus
    // rounds run at DICT-scale parallelism, not corpus width: a small
    // vocabulary spread over the session's full shuffle width pays 16×
    // (scheduling + empty tasks); ~50k words per partition keeps big dicts
    // parallel (count is free — the frame is checkpointed)
    val dictParts = math.max(1L, segs.count() / 50000L).toInt
    segs = segs.coalesce(dictParts).localCheckpoint(true)
    val merges = Seq.newBuilder[(String, String)]
    var exhausted = false
    val rounds = (k + BatchB - 1) / BatchB
    for (_ <- 0 until rounds if !exhausted) {
      val cands = segs
        .select(col("freq"), explode(symPairs(col("seg"))).as("p"))
        .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("p"))
        .limit(BatchB).collect() // B-row candidate probe
        .map(_.getString(0).split("\t", 2) match { case Array(a, b) => (a, b) })
      if (cands.isEmpty) exhausted = true
      else {
        // candidate-prefix conflict filter: keep i iff NO higher-ranked
        // candidate (kept or not) shares a symbol — kept set is pairwise
        // symbol-disjoint, so the single-scan fold below can't interact
        val sel = cands.zipWithIndex.collect {
          case ((a, b), i) if cands.take(i).forall { case (c, d) =>
            c != a && c != b && d != a && d != b } => (a, b)
        }
        merges ++= sel
        val folded = sel.foldLeft(col("seg")) { case (acc, (a, b)) =>
          replace(acc, lit(s" $a $b "), lit(s" $a$b "))
        }
        segs = segs.withColumn("seg", folded).localCheckpoint(true)
      }
    }
    (merges.result(), segs)
  }

  /** q117: the learned merge table — (merge_rank, left_sym, right_sym). */
  def bpeMerges(spark: SparkSession, sfDir: String, k: Int = 64): DataFrame = {
    import spark.implicits._
    val (merges, _) = train(spark, sfDir, k)
    merges.zipWithIndex
      .map { case ((a, b), i) => (i.toLong + 1, a, b) }
      .toDF("merge_rank", "left_sym", "right_sym")
  }

  /** Dict-side join frame for apply: BROADCAST while the vocabulary fits
    * the budget (default 20M words ≈ a few hundred MB), plain shuffle
    * equi-join beyond it — a 100 TB corpus can push the dict to 10⁸ rows,
    * past any broadcast cap (the triangleCensus lesson applied here). The
    * count probe is free: the segs frame is checkpointed.
    */
  private def dictSide(segs: DataFrame, limit: Long): DataFrame = {
    val perWord = segs.select(col("word"),
      size(split(trim(col("seg")), " ")).cast("long").as("n_sub"))
    if (segs.count() <= limit) broadcast(perWord) else perWord
  }

  private[graft] val DictBroadcastLimit = 20000000L

  /** q118: per-document subword accounting under the trained tokenizer —
    * (doc_id, n_words, n_subword_tokens). Apply is one join of exploded
    * words against the dict's final segmentation (broadcast under the
    * [[dictSide]] budget).
    */
  def bpeTokenCounts(spark: SparkSession, sfDir: String, k: Int = 64,
      dictBroadcastLimit: Long = DictBroadcastLimit): DataFrame = {
    val (_, segs) = train(spark, sfDir, k)
    val docWords = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
    val counted = docWords
      .join(dictSide(segs, dictBroadcastLimit), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subword_tokens"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(counted, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subword_tokens"), lit(0L)).as("n_subword_tokens"))
  }

  /** Tokenizer FERTILITY per language — subword tokens per word and
    * characters per subword token, the standard "how well does this vocab
    * fit this slice" audit (a language the merges under-serve shows high
    * fertility → more tokens per content unit → worse effective context
    * and training cost). Rides the memoized [[train]] artifacts and the
    * same broadcast word→segmentation join as q118; the per-language fold
    * is one partial-agged groupBy over (lang, word) rows, and both ratios
    * are single IEEE divisions of exact longs.
    */
  def bpeFertility(spark: SparkSession, sfDir: String, k: Int = 64): DataFrame = {
    val (_, segs) = train(spark, sfDir, k)
    Tables.documents(spark, sfDir)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .join(dictSide(segs, DictBroadcastLimit), "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_subword_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_subword_tokens"), col("n_chars"),
        (col("n_subword_tokens").cast("double") / col("n_words")).as("fertility"),
        (col("n_chars").cast("double") / col("n_subword_tokens")).as("chars_per_subword"))
  }
}
