package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming document scoring — the q242 threshold sweep maintained as
  * streaming state (the q241/q246 batch/stream parity pattern, third
  * instance).
  */
object ScoreStream {

  /** STREAMING THRESHOLD SWEEP: documents arrive as a stream, the quality
    * score is the SAME per-row expression tree as the batch classifier
    * ([[graft.ops.Curation.qualityScored]], shared verbatim), and the only
    * state kept is the per-score-value (c1, c2) label counts — q242's own
    * insight ("collapse to per-score counts before sweeping") is exactly
    * what makes the sweep state-store friendly: state is |distinct scores|
    * rows of three numbers, NOT the corpus. The 9-threshold confusion
    * sweep then runs batch-side on the drained counts through
    * [[graft.ops.Evaluation.sweepFromCounts]] — the identical arithmetic,
    * so the query is hash-gated against q242's oracle SHARED VERBATIM.
    */
  def thresholdSweepAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Staged.stream(spark, sfDir, "documents")
    val counts = graft.ops.Curation
      .qualityScored(docs,
        extra = Seq(when(col("lang") === "en", 1L).otherwise(0L).as("y")))
      .groupBy(col("score").as("x"))
      .agg(sum(col("y")).as("c1"), sum(lit(1L) - col("y")).as("c2"))
    graft.ops.Evaluation.sweepFromCounts(spark,
      Drain.toMemoryTable(spark, counts, "complete", "graft_stream_sweep"))
  }

  /** STREAMING CONTAMINATION MONITOR — q75's eval-set decontamination as an
    * AvailableNow stream over arriving documents (the FIFTH batch/stream
    * parity instance, after q163 PSI / q226 A/B / q255 sweep / q268 daily
    * anomaly): the eval suite's distinct gram set is FIXED at monitor start
    * (a static batch relation — the deployment shape, since a benchmark
    * suite changes by release, not by event), each arriving document's
    * grams are cut by the same native [[graft.functions.WordGramsExpr]]
    * inside the streaming scan, and the stream-static left join + per-doc
    * aggregate emit exactly q75's (doc_id, n_grams, n_hits,
    * is_contaminated) — hash-gated against q75's oracle VERBATIM (one
    * shared SQL string, the q268 convention).
    *
    * State: all of one document's grams arrive in its single input row, so
    * every per-doc aggregate FINALIZES within the micro-batch that carries
    * the document. The state store still retains one small row per doc_id seen;
    * a production monitor bounds that with an arrival-time watermark —
    * documented as the deployment knob rather than simulated, because
    * AvailableNow over a finite corpus never evicts anyway.
    */
  def contaminationMonitorAvailableNow(spark: SparkSession, sfDir: String,
      n: Int = 5, evalPermille: Int = 200, salt: String = "eval_v1"): DataFrame = {
    val isEval = graft.ops.Corpus.hashBucket(col("doc_id"), salt) < evalPermille
    val evalGrams = graft.core.Tables.documents(spark, sfDir)
      .filter(isEval)
      .select(explode(graft.ops.Curation.wordGrams(col("text"), n)).as("gram"))
      .distinct()
      .withColumn("hit", lit(1L))
    val docs = Staged.stream(spark, sfDir, "documents")
    val scored = docs.filter(!isEval)
      .select(col("doc_id"),
        explode_outer(graft.ops.Curation.wordGrams(col("text"), n)).as("gram"))
      .join(evalGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("gram")).as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
    Drain.toMemoryTable(spark, scored, "complete", "graft_stream_decontam")
      .withColumn("is_contaminated", col("n_hits") > 0)
  }

  /** STREAMING VOCABULARY-NOVELTY MONITOR — q319's first-seen new-term
    * growth series as an AvailableNow stream over arriving documents (the
    * SEVENTH batch/stream parity instance): the crawl-batch assignment and
    * tokenization are the SAME expression tree as the batch operator
    * ([[graft.ops.TermStats.vocabCells]], shared verbatim), and the only
    * state kept is the (source, term, batch) occurrence counts — bounded by
    * vocabulary × batches, never the corpus. All of one document's terms
    * arrive in its single input row, so every cell a document touches
    * finalizes within the micro-batch that carries the document. The
    * growth arithmetic (first-seen = min batch, cumulative vocabulary,
    * new-term rate) then runs batch-side on the drained cells through
    * [[graft.ops.TermStats.growthFromCells]] — identical code — so the query
    * is hash-gated against q319's oracle SHARED VERBATIM (one SQL string,
    * the q268 convention). This is the crawl operator's live readout: a
    * source whose new-term rate flattens mid-crawl stops deserving budget
    * before the crawl finishes.
    */
  def vocabGrowthAvailableNow(spark: SparkSession, sfDir: String,
      nBatches: Int = 8, salt: String = "crawl_v1"): DataFrame = {
    val docs = Staged.stream(spark, sfDir, "documents")
    val cells = graft.ops.TermStats.vocabCells(docs, nBatches, salt)
    // materialized before the finisher: growthFromCells branches the cell
    // frame (per-batch totals vs first-seen news) into a self-join, and the
    // analyzer cannot dedup conflicting references through a memory-sink
    // view — a checkpointed frame self-joins fine (and pays the drained
    // state exactly once for both branches)
    val finalCells = Drain.toMemoryTable(spark, cells, "complete", "graft_stream_vocab")
      .localCheckpoint(true)
    graft.ops.TermStats.growthFromCells(finalCells)
  }

  /** STREAMING PER-SOURCE CONTAMINATION PROFILE — q338's feed-grain triage
    * live over an arriving corpus (the NINTH batch/stream parity instance):
    * the eval suite's distinct gram set is FIXED at monitor start (q316's
    * deployment shape — a benchmark changes by release, not by event), each
    * arriving document's grams are cut in-scan by the same native
    * WordGramsExpr, and the stream emits one verdict row per document —
    * (doc_id, source, n_toks, n_hits) — which finalizes within its arrival
    * micro-batch (all of a document's grams travel in its single input
    * row). The feed-grain rollup then runs batch-side on the drained verdicts
    * through the SAME [[graft.ops.Curation.sourceContamRollup]] expression
    * tree as q338, so the query is hash-gated against q338's oracle SHARED
    * VERBATIM (one SQL val, the q268 convention). This is the crawl
    * operator's live triage: a feed whose contamination rate climbs as its
    * batches land gets cut off mid-crawl, not at the post-hoc audit.
    *
    * State: one small row per document seen (q316's class — an arrival-time
    * watermark is the production eviction knob, documented not simulated,
    * since AvailableNow over a finite corpus never evicts); the token count
    * rides the state key, adding no growth (doc_id already keys it).
    */
  def sourceContamAvailableNow(spark: SparkSession, sfDir: String,
      n: Int = 5, evalPermille: Int = 200, salt: String = "eval_v1"): DataFrame = {
    val isEval = graft.ops.Corpus.hashBucket(col("doc_id"), salt) < evalPermille
    val evalGrams = graft.core.Tables.documents(spark, sfDir)
      .filter(isEval)
      .select(explode(graft.ops.Curation.wordGrams(col("text"), n)).as("gram"))
      .distinct()
      .withColumn("hit", lit(1L))
    val docs = Staged.stream(spark, sfDir, "documents")
    val scored = docs.filter(!isEval)
      .select(col("doc_id"), col("source"),
        size(graft.ops.TextAnalysis.alphaTokens(col("text"))).cast("long")
          .as("n_toks"),
        explode_outer(graft.ops.Curation.wordGrams(col("text"), n)).as("gram"))
      .join(evalGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"), col("source"), col("n_toks"))
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
    val verdicts = Drain.toMemoryTable(spark, scored, "complete", "graft_stream_srccontam")
      .withColumn("is_contaminated", col("n_hits") > 0)
    graft.ops.Curation.sourceContamRollup(verdicts)
  }

  /** STREAMING PASSAGE-GRAIN DECONTAMINATION — q331's verdict table live
    * over an arriving corpus (the TENTH batch/stream parity instance): the
    * eval gram set is fixed at monitor start (q316's shape), and each
    * arriving document's DISTINCT (passage, gram) pairs are built by the
    * SAME row-local [[graft.ops.Curation.passagePairs]] expression tree as
    * the batch operator (the r17 refactor that moved the dedup inside the
    * scan exists precisely so both sides share it — a stream cannot run a
    * relation-level DISTINCT before its one aggregation). Every (doc,
    * passage) verdict finalizes within its arrival micro-batch (a
    * document's pairs travel in its single input row), hash-gated
    * against q331's oracle SHARED VERBATIM. The live form of the passage
    * remedy: excision lists stream out as documents land, instead of a
    * post-hoc sweep over the finished crawl.
    *
    * State: one small row per (doc, passage) seen — bounded by corpus
    * passages, the q316 class (arrival watermark is the production
    * eviction knob, documented not simulated).
    */
  def passageDecontamAvailableNow(spark: SparkSession, sfDir: String,
      n: Int = 5, w: Int = 8, evalPermille: Int = 200,
      salt: String = "eval_v1"): DataFrame = {
    val isEval = graft.ops.Corpus.hashBucket(col("doc_id"), salt) < evalPermille
    val evalGrams = graft.core.Tables.documents(spark, sfDir)
      .filter(isEval)
      .select(explode(graft.ops.Curation.wordGrams(col("text"), n)).as("gram"))
      .distinct()
      .withColumn("hit", lit(1L))
    val docs = Staged.stream(spark, sfDir, "documents")
    val scored = docs.filter(!isEval)
      .select(col("doc_id"),
        explode(graft.ops.Curation.passagePairs(col("text"), n, w)).as("pg"))
      .select(col("doc_id"), col("pg.passage").as("passage"),
        col("pg.gram").as("gram"))
      .join(evalGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"), col("passage"))
      .agg(count(col("gram")).as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
    Drain.toMemoryTable(spark, scored, "complete", "graft_stream_passage")
      .withColumn("is_flagged", col("n_hits") > 0)
  }

  /** STREAMING BENCHMARK-BURN MONITOR — q349's burned-items table live over
    * an arriving TRAINING corpus (the ELEVENTH batch/stream parity
    * instance, and the one with the tightest state bound of the whole
    * suite): the eval suite's (eval_doc, gram) pairs are a FIXED static
    * relation, each arriving training document's grams inner-join it, and
    * the only state kept is the leaked-pair counts — bounded by the SUITE's
    * own gram mass, never by the corpus streaming past (a 100 TB crawl
    * monitors against a megabyte of benchmark state). The drained pairs
    * are the final leak set; the per-item arithmetic (n_leaked, leak_share, is_burned) runs batch-side against
    * the static per-item gram-count spine — zero-gram items keep their row
    * (the q349 shape) — and the query is hash-gated against q349's oracle
    * SHARED VERBATIM. This is the benchmark owner's live readout: an eval
    * item burns the moment the crawl absorbs its last gram, not at the
    * post-hoc audit.
    */
  def burnMonitorAvailableNow(spark: SparkSession, sfDir: String,
      n: Int = 5, evalPermille: Int = 200, salt: String = "eval_v1"): DataFrame = {
    val isEval = graft.ops.Corpus.hashBucket(col("doc_id"), salt) < evalPermille
    val statics = graft.core.Tables.documents(spark, sfDir).filter(isEval)
    val evalPairs = statics
      .select(col("doc_id").as("eval_doc"),
        explode(graft.ops.Curation.wordGrams(col("text"), n)).as("gram"))
    val spine = statics.select(col("doc_id"),
      size(graft.ops.Curation.wordGrams(col("text"), n)).cast("long").as("n_grams"))
    val docs = Staged.stream(spark, sfDir, "documents")
    val leaked = docs.filter(!isEval)
      .select(explode(graft.ops.Curation.wordGrams(col("text"), n)).as("gram"))
      .join(evalPairs, Seq("gram"))
      .groupBy(col("eval_doc"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val perItem = Drain.toMemoryTable(spark, leaked, "complete", "graft_stream_burn")
      .groupBy(col("eval_doc").as("doc_id")).agg(count(lit(1)).as("n_leaked"))
    spine.join(perItem, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        when(col("n_grams") > 0L,
          coalesce(col("n_leaked"), lit(0L)).cast("double") /
            col("n_grams").cast("double")).as("leak_share"),
        (col("n_grams") > 0L &&
          coalesce(col("n_leaked"), lit(0L)) === col("n_grams")).as("is_burned"))
  }

  /** STREAMING DOMAIN-MIX MONITOR — q332's reweighting solver live over an
    * arriving corpus (the EIGHTH batch/stream parity instance): the only
    * state is the (source, lang) cell counts — |sources|·|langs| rows, built
    * by the SAME `domainCells` expression tree as the batch solver — and
    * every cell a document touches finalizes within its arrival
    * micro-batch. The solver
    * arithmetic (independence target, weights, feasibility) runs batch-side
    * on the drained cells through the SAME `domainMixFromCells`, so the
    * query is hash-gated against q332's oracle SHARED VERBATIM. This is the
    * ingestion-time readout: the mix an operator would have to sample TODAY
    * if the crawl stopped now, updating as feeds land.
    */
  def domainMixAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Staged.stream(spark, sfDir, "documents")
    val cells = graft.ops.TrainingMix.domainCells(docs)
    // checkpointed before the finisher: domainMixFromCells branches the cell
    // frame four ways (marginals, total, shares) and a memory-sink view
    // cannot dedup conflicting references (the q330 lesson)
    val finalCells = Drain.toMemoryTable(spark, cells, "complete", "graft_stream_mix")
      .localCheckpoint(true)
    graft.ops.TrainingMix.domainMixFromCells(finalCells)
  }

  /** STREAMING LEAK-SEVERITY MONITOR — q359's policy-class census live over
    * an arriving training corpus (the THIRTEENTH batch/stream parity
    * instance, and the first STATELESS one): the eval suite's distinct gram
    * set is FIXED at monitor start (q316's deployment shape), and the stream
    * emits two row kinds through ONE append-mode query with NO state store
    * at all — a per-doc spine row (doc_id, −1, n_alpha_toks) and one sparse
    * hit row (doc_id, gram position) per leaked gram instance, both plain
    * projections/stream-static inner joins that finalize the moment their
    * document's input row is processed (docs arrive whole, so there is
    * nothing to accumulate; append mode re-emits nothing). The
    * gaps-and-islands longest-run pass, the severity CASE and the 4-class
    * rollup then run batch-side on the drained rows through the SAME
    * [[graft.ops.Curation.severityProfileRollup]] expression tree as q359
    * (islands spelled exactly as q358's), so the query is hash-gated against
    * q359's oracle SHARED VERBATIM. This is the crawl operator's live policy
    * readout: the wholesale class's token mass climbing mid-crawl says
    * "benchmark copies are landing NOW" — batches before the post-hoc audit.
    *
    * State: none (the stateless class — tighter than even q350's
    * suite-bounded counters); the drained frame is spine + hit rows, and the
    * hit mass is the LEAK mass, never the corpus's gram mass.
    */
  def severityProfileAvailableNow(spark: SparkSession, sfDir: String,
      n: Int = 5, evalPermille: Int = 200, salt: String = "eval_v1"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val drained = spineHitsDrained(spark, sfDir, n, evalPermille, salt,
      "graft_stream_severity")
    val spine = drained.filter(col("pos") === -1L)
      .select(col("doc_id"), col("n_toks"))
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = drained.filter(col("pos") >= 0L)
      .select(col("doc_id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(wRun))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(max(col("run")).as("longest"))
    val perDoc = spine.join(runs, Seq("doc_id"), "left")
      .select(col("n_toks"),
        coalesce(col("longest"), lit(0L)).as("longest_run_grams"),
        when(coalesce(col("longest"), lit(0L)) > 0L,
          col("longest") + lit((n - 1).toLong)).otherwise(lit(0L))
          .as("longest_span_tokens"))
    graft.ops.Curation.severityProfileRollup(spark, perDoc)
  }

  /** The shared STATELESS spine + hit-position drain behind q367 and q371:
    * one append-mode query (no state store) emitting a per-doc spine row
    * (doc_id, −1, n_alpha_toks) plus one sparse row per leaked-gram
    * position (stream-static inner join against the fixed suite gram set).
    * Returned checkpointed — both consumers branch the frame and re-join,
    * which a memory-sink view cannot serve (the q330 lesson).
    *
    * The default-args drain is MEMOIZED once per (session, scale): the
    * DRAIN is the instrument — the stream runs once and both parity
    * queries read its accumulated output, exactly the batch-memo
    * convention, with cache_paid attribution naming the payer. Non-default
    * calls (spec fixtures) run their own stream (the passage_flags rule).
    */
  private val severityDrainCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), org.apache.spark.sql.DataFrame]

  private def spineHitsDrained(spark: SparkSession, sfDir: String, n: Int,
      evalPermille: Int, salt: String, name: String): DataFrame =
    if (n == 5 && evalPermille == 200 && salt == "eval_v1")
      // ONE fixed memory-table name on the memo path (r18 ADVICE): the
      // per-caller `name` was silently first-caller-wins — whichever of
      // q367/q371 ran first decided whether graft_stream_severity or
      // graft_stream_widened existed, which misleads debugging. The
      // caller's name still applies on the non-default (own-stream) path.
      graft.core.Memo(severityDrainCache, "severity_drain", spark, sfDir)(
        graft.core.Fold.release)(spineHitsDrainCompute(spark, sfDir, 5, 200,
        "eval_v1", "graft_stream_severity_spine").localCheckpoint(true))
    else spineHitsDrainCompute(spark, sfDir, n, evalPermille, salt, name)
      .localCheckpoint(true)

  private def spineHitsDrainCompute(spark: SparkSession, sfDir: String, n: Int,
      evalPermille: Int, salt: String, name: String): DataFrame = {
    val isEval = graft.ops.Corpus.hashBucket(col("doc_id"), salt) < evalPermille
    val evalGrams = graft.core.Tables.documents(spark, sfDir)
      .filter(isEval)
      .select(explode(graft.ops.Curation.wordGrams(col("text"), n)).as("gram"))
      .distinct()
    val docs = Staged.stream(spark, sfDir, "documents")
    val train = docs.filter(!isEval)
    val spineRows = train.select(col("doc_id"), lit(-1L).as("pos"),
      size(graft.ops.TextAnalysis.alphaTokens(col("text"))).cast("long")
        .as("n_toks"))
    val hitRows = train
      .select(col("doc_id"),
        posexplode(graft.ops.Curation.posWordGrams(col("text"), n)))
      .toDF("doc_id", "pos", "gram")
      .join(evalGrams, Seq("gram"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        lit(0L).as("n_toks"))
    // checkpointing happens at the caller (memoized on the memo path,
    // an explicit localCheckpoint on the non-default path) — exactly once
    Drain.toMemoryTable(spark, spineRows.unionByName(hitRows), "append", name)
  }

  /** STREAMING WIDENED-CUT SAVINGS — q366's three-policy row live over an
    * arriving training corpus (the FOURTEENTH batch/stream parity instance,
    * stateless like q367): the drained spine + hit positions are the SAME
    * append-mode query shape as the severity monitor, and the entire
    * finisher — interval union, passage derivation (a passage is flagged
    * iff a gram starts in it), all three policy arms — is
    * [[graft.ops.Curation.widenedFromSpans]] SHARED VERBATIM with the batch
    * operator, so the query is hash-gated against q366's oracle SHARED
    * VERBATIM. This is the paranoid remedy's live form: the exact token
    * spans to excise accumulate as documents land, and the running row says
    * what the widened policy costs over the blunt ones so far.
    */
  def widenedSavingsAvailableNow(spark: SparkSession, sfDir: String,
      n: Int = 5, w: Int = 8, evalPermille: Int = 200,
      salt: String = "eval_v1"): DataFrame = {
    val drained = spineHitsDrained(spark, sfDir, n, evalPermille, salt,
      "graft_stream_widened")
    graft.ops.Curation.widenedFromSpans(
      drained.filter(col("pos") === -1L).select(col("doc_id"), col("n_toks")),
      drained.filter(col("pos") >= 0L).select(col("doc_id"), col("pos")),
      n, w)
  }

  /** STREAMING SEMANTIC-DECONTAMINATION MONITOR — q354's embedding-channel
    * leak audit live over an arriving TRAINING corpus (the TWELFTH
    * batch/stream parity instance): the eval items' scaled vectors are a
    * FIXED static broadcast relation (a benchmark suite changes by release,
    * not by event — the q316 shape), each arriving training vector scores
    * against every eval item with the SAME integer-scaled native cosine as
    * the batch audit ([[graft.functions.CosineSimExpr]], bit-identical
    * doubles), and the ONLY state kept is one running top-1 per eval item —
    * |eval| rows of (best cosine, best neighbor), the tightest possible
    * bound: a 100 TB crawl monitors against kilobytes of benchmark state.
    *
    * The running top-1 is `max(struct(cosine, -vec_id))`, whose field order
    * encodes exactly the batch window's tie-break (`ORDER BY cosine DESC, vec_id ASC`): highest
    * cosine first, then highest −id = lowest id. The τ-match / gram-flag /
    * paraphrase-leak arithmetic runs batch-side on the drained winners
    * through [[graft.ops.Similarity.semanticFlagsFromNN]] — the identical
    * finisher — so the query is hash-gated against q354's oracle SHARED
    * VERBATIM. This is the release-integrity tripwire: the moment a crawl
    * absorbs a paraphrase of a benchmark item, its eval_id's row flips to
    * paraphrase_leak=true — months before a post-hoc audit would run.
    */
  def semanticDecontamAvailableNow(spark: SparkSession, sfDir: String,
      evalPermille: Int = 200, salt: String = "eval_v1",
      tau: Double = 0.4): DataFrame = {
    val isEval = graft.ops.Corpus.hashBucket(col("vec_id"), salt) < evalPermille
    val evalSide = graft.ops.Similarity.scaledVecs(spark, sfDir)
      .filter(isEval)
      .select(col("vec_id").as("eval_id"), col("svec").as("qvec"),
        lit(1).as("one"))
    val train = graft.ops.Similarity.withScaled(
        Staged.stream(spark, sfDir, "embeddings").filter(!isEval))
      .withColumn("one", lit(1))
    val best = train.join(broadcast(evalSide), Seq("one"))
      .select(col("eval_id"),
        struct(
          graft.functions.CosineSimExpr(col("qvec"), col("svec")).as("c"),
          (-col("vec_id")).as("nid")).as("cand"))
      .groupBy(col("eval_id"))
      .agg(max(col("cand")).as("best"))
    val nn = Drain.toMemoryTable(spark, best, "complete", "graft_stream_semdecon")
      .select(col("eval_id").as("doc_id"),
        (-col("best.nid")).as("nn_train_id"),
        col("best.c").as("cosine"))
    graft.ops.Similarity.semanticFlagsFromNN(spark, sfDir, nn, tau)
  }
}
