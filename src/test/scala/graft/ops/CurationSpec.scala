package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Memo

/** Test access to the package-private gram builders. */
object CurationTestHook {
  def native(c: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    Curation.wordGrams(c, n)
  def hof(c: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    Curation.wordGramsHof(c, n)
}

/** Invariants of the curation operators the oracle gate can't see: the
  * short-document guards in decontamination and repetition stats (Spark's
  * `sequence(1, k)` reverses for k < 1), eval-slice exclusion, and the
  * argmax policy of quality-representative selection (highest quality wins,
  * ties break to the lowest doc_id).
  */
class CurationSpec extends SparkSpec {

  /** Pick fixture ids on the right side of the eval hash split: membership is
    * a pure function of doc_id + salt, so the test probes it up front instead
    * of hard-coding ids that silently drift if the salt changes.
    */
  private def splitIds(n: Int): (Seq[Long], Seq[Long]) = {
    import spark.implicits._
    val buckets = (1L to n.toLong).toDF("doc_id")
      .select($"doc_id", Corpus.hashBucket($"doc_id", "eval_v1").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    (buckets.filter(_._2 < 200).map(_._1).toSeq,
      buckets.filter(_._2 >= 200).map(_._1).toSeq)
  }

  test("decontaminate flags n-gram overlap with the eval slice and guards short docs") {
    import spark.implicits._
    val (evalIds, trainIds) = splitIds(50)
    assert(evalIds.nonEmpty && trainIds.size >= 3)
    val shared = "the quick brown fox jumps over the lazy dog"
    val d = tmpDir("decon")
    Seq(
      (evalIds.head, shared, "en", shared.length),                     // eval member
      (trainIds(0), "prefix words then " + shared, "en", 60),          // shares 5-grams
      (trainIds(1), "completely unrelated astronomy text about orbital mechanics and stars", "en", 70),
      (trainIds(2), "too short doc", "en", 13))                        // < 5 tokens
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = Curation.decontaminate(spark, d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(!out.contains(evalIds.head))              // eval docs never emitted
    val (gContam, hContam, contam) = out(trainIds(0))
    assert(contam && hContam >= 1 && gContam >= hContam)
    val (gClean, hClean, clean) = out(trainIds(1))
    assert(!clean && hClean == 0 && gClean > 0)
    assert(out(trainIds(2)) == ((0L, 0L, false)))    // short doc: no fabricated grams
  }

  test("passage decontamination isolates the leaking passage; doc verdicts reconcile") {
    import spark.implicits._
    val (evalIds, trainIds) = splitIds(50)
    assert(evalIds.nonEmpty && trainIds.size >= 2)
    // the shared span is 9 tokens, so its 5-grams all START in tokens 1..5 —
    // entirely inside passage 0 (w=8) — while the clean tail fills passage 1+
    val shared = "the quick brown fox jumps over the lazy dog"
    val tail = "clean astronomy words about orbital mechanics and stellar spectra continue here today"
    val d = tmpDir("pdecon")
    Seq(
      (evalIds.head, shared, "en", shared.length.toLong),
      (trainIds(0), shared + " " + tail, "en", 120L),  // leak in passage 0 only
      (trainIds(1), tail + " " + tail, "en", 170L))    // never flagged
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = Curation.passageDecontaminate(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    // the leaking doc keeps its clean passages: only passage 0 is flagged
    val leaky = rows.filter(_._1._1 == trainIds(0))
    assert(leaky((trainIds(0), 0L))._3, "leaking passage flagged")
    assert(leaky.size >= 2 && leaky.filter(_._1._2 > 0L).forall(!_._2._3),
      "clean passages of a leaking doc survive — the point of the grain")
    assert(rows.filter(_._1._1 == trainIds(1)).forall(!_._2._3))
    assert(!rows.keys.exists(_._1 == evalIds.head), "eval docs never emitted")
    // doc-grain reconciliation on the REAL corpus: q75's verdict equals
    // any(passage flags), and docs with no grams surface on neither side
    val sf = "/root/testdata/sf0.001"
    val docGrain = Curation.decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    val byDoc = Curation.passageDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(4)))
      .groupBy(_._1).map { case (id, ps) => id -> ps.exists(_._2) }
    assert(byDoc.nonEmpty && byDoc.values.exists(identity),
      "fixture corpus must contain at least one flagged passage")
    byDoc.foreach { case (id, anyFlag) =>
      assert(docGrain(id)._2 === anyFlag, s"doc $id grain verdicts diverge")
    }
    docGrain.foreach { case (id, (nGrams, flag)) =>
      if (!byDoc.contains(id)) assert(nGrams === 0L && !flag,
        s"doc $id missing at passage grain despite having grams")
    }
  }

  test("source contamination: feed-grain rollup recounted from q75 and raw tokens") {
    val sf = "/root/testdata/sf0.001"
    val meta = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        "[a-z0-9]+".r.findAllIn(r.getString(2).toLowerCase).size.toLong))).toMap
    val q75 = Curation.decontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(3)))
    val bySource = q75.groupBy(d => meta(d._1)._1)
    val rows = Curation.sourceContamination(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(rows.keySet === bySource.keySet, "one row per training source")
    rows.foreach { case (s, (nd, nc, rate, nt, ct)) =>
      val ds = bySource(s)
      assert(nd === ds.length.toLong, s"source $s docs")
      assert(nc === ds.count(_._2).toLong, s"source $s contaminated")
      assert(rate === nc.toDouble / nd.toDouble, s"source $s rate")
      assert(nt === ds.map(d => meta(d._1)._2).sum, s"source $s tokens")
      assert(ct === ds.filter(_._2).map(d => meta(d._1)._2).sum, s"source $s flagged tokens")
    }
    assert(rows.values.map(_._2).sum === q75.count(_._2).toLong,
      "sources partition the flagged docs")
  }

  test("decontam savings: both policy arms recounted from q331/q75's own verdicts") {
    val sf = "/root/testdata/sf0.001"
    val r = Curation.decontamSavings(spark, sf).head
    val (nDocs, total, nFlag, retDoc, retPass, rescued) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))
    // doc-grain arm recounted from q75's verdicts + raw token counts
    val toks = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r2 => r2.getLong(0) ->
        "[a-z0-9]+".r.findAllIn(r2.getString(1).toLowerCase).size.toLong).toMap
    val q75 = Curation.decontaminate(spark, sf).collect()
      .map(r2 => (r2.getLong(0), r2.getBoolean(3)))
    assert(nDocs === q75.length.toLong, "one training doc per q75 row")
    assert(total === q75.map(d => toks(d._1)).sum)
    assert(nFlag === q75.count(_._2).toLong)
    assert(retDoc === q75.filter(!_._2).map(d => toks(d._1)).sum)
    // passage-grain arm recounted from q331's flagged passages
    val removed = Curation.passageDecontaminate(spark, sf).collect()
      .filter(_.getBoolean(4))
      .map(r2 => math.min(8L, toks(r2.getLong(0)) - 8L * r2.getLong(1))).sum
    assert(retPass === total - removed)
    assert(retPass >= retDoc, "excising passages never keeps less than dropping docs")
    assert(rescued === (retPass - retDoc).toDouble / total.toDouble)
    assert(nFlag > 0 && rescued > 0.0,
      "fixture corpus must show actual rescued tokens for the readout to mean anything")
  }

  test("per-source savings: rows reconcile exactly against q334's corpus totals") {
    // the verdict-item-5 gate: q341 is q334's arithmetic at feed grain, so
    // the per-source rows must SUM to the corpus readout column for column,
    // and each source's own arms must obey the same policy ordering.
    val sf = "/root/testdata/sf0.001"
    val corpus = Curation.decontamSavings(spark, sf).head
    val rows = Curation.decontamSavingsBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.map(_._2).sum === corpus.getLong(0), "n_docs partitions")
    assert(rows.map(_._3).sum === corpus.getLong(1), "token mass partitions")
    assert(rows.map(_._4).sum === corpus.getLong(2), "flagged docs partition")
    assert(rows.map(_._5).sum === corpus.getLong(3), "doc-grain retention partitions")
    assert(rows.map(_._6).sum === corpus.getLong(4), "passage-grain retention partitions")
    rows.foreach { case (src, _, total, _, retDoc, retPass, rescued) =>
      assert(retPass >= retDoc, s"$src: surgery never keeps less than dropping")
      assert(rescued === (retPass - retDoc).toDouble / total.toDouble, s"$src share")
    }
    assert(rows.exists(_._4 > 0) && rows.exists(_._4 == 0),
      "fixture must show both contaminated and clean feeds for the triage to rank")
  }

  test("quality × contamination: tiles partition the training corpus and reconcile q334") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Curation.decontamSavings(spark, sf).head
    val rows = Curation.contaminationByQuality(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getLong(6), r.getDouble(7)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === (1L to 10L).toSeq, "all ten deciles surface")
    val nTrain = corpus.getLong(0)
    assert(rows.map(_._2).sum === nTrain, "tiles partition the training docs")
    // floor-distribution tiles: sizes within 1 of each other
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1L, "q325 tiling balance")
    assert(rows.map(_._3).sum === corpus.getLong(1), "token mass partitions")
    // flagged mass across tiles = total − doc-grain retention (same verdicts)
    assert(rows.map(_._5).sum === corpus.getLong(1) - corpus.getLong(3),
      "flagged tokens reconcile with q334's doc arm")
    // removed mass across tiles = total − passage-grain retention
    assert(rows.map(_._7).sum === corpus.getLong(1) - corpus.getLong(4),
      "removed passage tokens reconcile with q334's passage arm")
    rows.foreach { case (tile, _, nt, _, fl, flShare, rm, rescued) =>
      assert(rm <= fl, s"tile $tile: can't excise more than the flagged mass")
      assert(flShare === fl.toDouble / nt.toDouble, s"tile $tile flagged share")
      assert(rescued === (fl - rm).toDouble / nt.toDouble, s"tile $tile rescued share")
    }
  }

  test("family contamination: escape channel recounted from q55 labels and q75 verdicts") {
    val sf = "/root/testdata/sf0.001"
    val rows = Curation.familyContamination(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    // independent recount: labels + verdicts + eval membership in plain Scala
    val labels = Graph.dupClusters(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val verd = Curation.decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val srcOf = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val evalDocs = labels.keySet.filterNot(verd.contains) // verdicts cover exactly non-eval
    val famEval = evalDocs.map(labels).toSet
    val famFlag = verd.filter(_._2).keySet.map(labels).toSet
    val perSrc = verd.keys.toSeq.groupBy(srcOf)
    perSrc.foreach { case (src, docs) =>
      val (n, direct, escaped, dr, fr) = rows(src)
      assert(n === docs.length.toLong, s"$src n_docs")
      assert(direct === docs.count(verd).toLong, s"$src direct")
      val esc = docs.count(d => !verd(d) &&
        (famEval(labels(d)) || famFlag(labels(d))))
      assert(escaped === esc.toLong, s"$src escaped")
      assert(dr === direct.toDouble / n && fr === (direct + escaped).toDouble / n)
    }
    assert(rows.keySet === perSrc.keySet, "one row per source with training docs")
    assert(rows.values.map(_._3).sum > 0,
      "fixture corpus must show at least one escaped doc for the audit to bite")
  }

  test("eval saturation + burned items: both directions recounted from raw grams") {
    val sf = "/root/testdata/sf0.001"
    // plain-Scala gram sets (string 5-grams — md5 is injective for the compare)
    def grams(text: String): Set[String] = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
      if (toks.size < 5) Set.empty
      else toks.sliding(5).map(_.mkString(" ")).toSet
    }
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
    val evalIds = graft.core.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .filter(Corpus.hashBucket(
        org.apache.spark.sql.functions.col("doc_id"), "eval_v1") < 200)
      .collect().map(_.getLong(0)).toSet
    val (ev, tr) = docs.partition(d => evalIds(d._1))
    val trainGrams = tr.iterator.flatMap(d => grams(d._2)).toSet
    val trainDf = tr.iterator.flatMap(d => grams(d._2).toSeq)
      .toSeq.groupBy(identity).map { case (g, xs) => g -> xs.size.toLong }
    val evalGrams = ev.iterator.flatMap(d => grams(d._2)).toSet
    // q348 recount
    val s348 = Curation.evalSaturation(spark, sf).head
    assert(s348.getLong(0) === evalGrams.size.toLong, "n_eval_grams")
    val leaked = evalGrams.intersect(trainGrams)
    assert(s348.getLong(1) === leaked.size.toLong, "n_leaked_grams")
    assert(s348.getDouble(2) === leaked.size.toDouble / evalGrams.size)
    assert(s348.getLong(3) === leaked.toSeq.map(trainDf).sum, "leak instances")
    // q349 recount per eval item + cross-reconciliation with q348
    val rows = Curation.burnedEvalItems(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4)))).toMap
    assert(rows.keySet === ev.map(_._1).toSet, "one row per eval doc, short ones included")
    ev.foreach { case (id, text) =>
      val g = grams(text)
      val (ng, nl, share, burned) = rows(id)
      assert(ng === g.size.toLong && nl === g.count(trainGrams).toLong, s"doc $id")
      if (g.nonEmpty) assert(share.contains(g.count(trainGrams).toDouble / g.size))
      else assert(share.isEmpty, s"doc $id: zero grams carry no share")
      assert(burned === (g.nonEmpty && g.forall(trainGrams)), s"doc $id burned")
    }
    assert(rows.values.exists(_._4), "fixture must contain at least one burned item")
  }

  test("release card: every arm equals its source audit verbatim") {
    val sf = "/root/testdata/sf0.001"
    val card = graft.ops.ReportCard.releaseReadiness(spark, sf).head
    val ded = Curation.dedupSavings(spark, sf).head
    assert(card.getLong(0) === ded.getLong(0), "n_docs = q313's census")
    assert(card.getLong(1) === ded.getLong(2), "raw_tokens = q313's raw mass")
    assert(card.getLong(2) === ded.getLong(1) && card.getDouble(3) === ded.getDouble(4),
      "dedup arm = q313")
    val sav = Curation.decontamSavings(spark, sf).head
    assert(card.getLong(4) === sav.getLong(0) && card.getLong(5) === sav.getLong(2),
      "contamination counts = q334")
    assert(card.getDouble(6) === sav.getLong(2).toDouble / sav.getLong(0).toDouble)
    assert(card.getDouble(7) === sav.getDouble(5), "rescue share = q334")
    assert(card.getDouble(8) ===
      Curation.evalSaturation(spark, sf).head.getDouble(2), "saturation = q348")
    assert(card.getLong(9) ===
      Curation.burnedEvalItems(spark, sf).collect().count(_.getBoolean(4)).toLong,
      "burned items = q349")
    val pool = graft.ops.TrainingMix.poolMix(spark, sf).collect()
    assert(card.getLong(10) === pool.map(_.getLong(3)).sum, "pool tokens = q347")
    assert(card.getLong(11) === pool.count(!_.getBoolean(8)).toLong,
      "infeasible cells = q347")
    val sem = graft.ops.Similarity.semanticDecontam(spark, sf).collect()
    assert(card.getLong(12) === sem.count(_.getBoolean(3)).toLong,
      "semantic matches = q354")
    assert(card.getLong(13) === sem.count(_.getBoolean(5)).toLong,
      "paraphrase leaks = q354")
    assert(card.getLong(13) > 0L, "fixture must surface the semantic channel")
    val grad = Curation.graduatedPolicy(spark, sf).head
    assert(card.getLong(14) === grad.getLong(4), "wholesale docs = q360")
    assert(card.getLong(15) === grad.getLong(7), "graduated retained = q360")
    assert(card.getLong(14) > 0L, "fixture must surface the severity channel")
    // card v4 (r18): the graduated-pool mass and the verified-surgery zero
    val gpool = graft.ops.TrainingMix.graduatedPoolMix(spark, sf).collect()
    assert(card.getLong(16) === gpool.map(_.getLong(3)).sum,
      "graduated pool tokens = q364")
    assert(card.getLong(17) ===
      Curation.excisionAudit(spark, sf).collect().map(_.getLong(2)).sum,
      "post-surgery leaks = q374's sum")
    assert(card.getLong(17) === 0L, "the card carries the verified zero")
  }

  test("leak spans: islands recounted from raw token positions; severity one-sided") {
    val sf = "/root/testdata/sf0.001"
    def toks(text: String): Vector[String] =
      "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
    def posGrams(text: String): Vector[String] = {
      val t = toks(text)
      if (t.size < 5) Vector.empty else t.sliding(5).map(_.mkString(" ")).toVector
    }
    import org.apache.spark.sql.functions.{col => c}
    val meta = graft.core.Tables.documents(spark, sf)
      .select(c("doc_id"), c("text"),
        (Corpus.hashBucket(c("doc_id"), "eval_v1") < 200).as("ev"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse(""),
        r.getBoolean(2)))
    val evalGrams = meta.filter(_._3).flatMap(m => posGrams(m._2)).toSet
    def longestRun(text: String): Long = {
      val hits = posGrams(text).zipWithIndex.collect {
        case (g, i) if evalGrams(g) => i
      }
      if (hits.isEmpty) 0L
      else hits.foldLeft((0L, 0L, -2)) { case ((best, cur, prev), i) =>
        val run = if (i == prev + 1) cur + 1 else 1L
        (math.max(best, run), run, i)
      }._1
    }
    val rows = Curation.leakSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    val train = meta.filter(!_._3)
    assert(rows.keySet === train.map(_._1).toSet, "one row per training doc")
    train.foreach { case (id, text, _) =>
      val run = longestRun(text)
      val (ng, nh, lr, st, cont) = rows(id)
      assert(lr === run, s"doc $id longest run")
      assert(st === (if (run > 0) run + 4 else 0L), s"doc $id span tokens")
      assert(cont === (run > 0), s"doc $id contaminated iff a hit position exists")
      assert(ng === posGrams(text).distinct.size.toLong, s"doc $id distinct grams")
      assert(nh === posGrams(text).distinct.count(evalGrams).toLong, s"doc $id hits")
    }
    val spans = rows.values.filter(_._5).map(_._3)
    assert(spans.exists(_ == 1L) && spans.exists(_ > 1L),
      "fixture must exercise single-gram and multi-gram leak runs")
  }

  test("leak severity profile: buckets recounted from q358's own rows") {
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.{col => c}
    val spans = Curation.leakSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    val toks = Corpus.docTokens(spark, sf)
      .select(c("doc_id"), c("n_alpha_toks")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def bucket(run: Long): String =
      if (run == 0L) "clean" else if (run <= 8L) "quote"
      else if (run <= 32L) "passage" else "wholesale"
    val expect = spans.toSeq.groupBy { case (_, (run, _)) => bucket(run) }
      .map { case (sev, xs) =>
        sev -> ((xs.size.toLong, xs.map(x => toks(x._1)).sum,
          xs.map(_._2._2).sum))
      }
    val trainTotal = spans.keysIterator.map(toks).sum
    val rows = Curation.leakSeverityProfile(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("clean", "quote", "passage", "wholesale"),
      "static 4-row spine")
    rows.foreach { case (sev, r) =>
      val (nd, tt, lst) = expect.getOrElse(sev, (0L, 0L, 0L))
      assert(r.getLong(1) === nd, s"$sev n_docs")
      assert(r.getLong(2) === tt, s"$sev total_tokens")
      assert(r.getLong(3) === lst, s"$sev leaked_span_tokens")
      assert(r.getDouble(4) === tt.toDouble / trainTotal, s"$sev token_share")
    }
    // the buckets partition the training set exactly
    assert(rows.values.map(_.getLong(1)).sum === spans.size.toLong)
    assert(rows.values.map(_.getLong(2)).sum === trainTotal)
    assert(rows("clean").getLong(1) > 0L && expect.size >= 3,
      "fixture must populate clean plus at least two leak classes")
  }

  test("graduated policy: arms reconcile q334; graduated recounted per doc") {
    val sf = "/root/testdata/sf0.001"
    val row = Curation.graduatedPolicy(spark, sf).head
    val sav = Curation.decontamSavings(spark, sf).head
    // the blunt arms must equal q334's exactly (same verdicts, same spans)
    assert(row.getLong(0) === sav.getLong(0), "n_docs = q334")
    assert(row.getLong(1) === sav.getLong(1), "total_tokens = q334")
    assert(row.getLong(5) === sav.getLong(3), "doc-grain arm = q334")
    assert(row.getLong(6) === sav.getLong(4), "passage-grain arm = q334")
    // graduated recounted doc-by-doc from q358's classes + q331's passages
    val spans = Curation.leakSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val toks = Corpus.docTokens(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("n_alpha_toks")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val removed = Curation.passageDecontaminate(spark, sf).collect()
      .filter(_.getBoolean(4))
      .groupBy(_.getLong(0)).map { case (id, ps) =>
        id -> ps.map(p => math.min(8L, toks(id) - p.getLong(1) * 8L)).sum
      }
    val graduated = spans.toSeq.map { case (id, run) =>
      if (run > 32L) 0L
      else if (run > 8L) toks(id) - removed.getOrElse(id, 0L)
      else toks(id)
    }.sum
    assert(row.getLong(7) === graduated, "graduated arm recount")
    assert(row.getLong(5) <= row.getLong(7),
      "graduated can only retain more than doc-drop")
    assert(row.getDouble(8) ===
      (row.getLong(7) - row.getLong(5)).toDouble / row.getLong(1).toDouble)
    // fixture must populate every class the policy distinguishes
    assert(row.getLong(2) > 0L && row.getLong(3) > 0L && row.getLong(4) > 0L,
      "fixture must contain quote, passage and wholesale docs")
  }

  test("widened savings: interval union recounted from raw positions; no leaked gram survives") {
    val sf = "/root/testdata/sf0.001"
    def toks(text: String): Vector[String] =
      "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
    def posGrams(text: String): Vector[String] = {
      val t = toks(text)
      if (t.size < 5) Vector.empty else t.sliding(5).map(_.mkString(" ")).toVector
    }
    import org.apache.spark.sql.functions.{col => c}
    val meta = graft.core.Tables.documents(spark, sf)
      .select(c("doc_id"), c("text"),
        (Corpus.hashBucket(c("doc_id"), "eval_v1") < 200).as("ev"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse(""),
        r.getBoolean(2)))
    val evalGrams = meta.filter(_._3).flatMap(m => posGrams(m._2)).toSet
    var removedW = 0L
    var removedP = 0L
    meta.filter(!_._3).foreach { case (_, text, _) =>
      val n = toks(text).size
      // 1-based hit starts; the gram at start i covers tokens [i, i+4]
      val hits = posGrams(text).zipWithIndex.collect {
        case (g, i) if evalGrams(g) => i + 1
      }
      val flagged = hits.map(i => (i - 1) / 8).distinct
      removedP += flagged.map(p => math.min(8L, n.toLong - p * 8L)).sum
      val covered = (hits.flatMap(i => i to (i + 4)) ++
        flagged.flatMap(p => (p * 8 + 1) to math.min((p + 1) * 8, n))).toSet
      removedW += covered.size
      // the guarantee the widened arm exists for: every leaked gram instance
      // loses ALL its tokens — zero eval grams survive the cut
      hits.foreach(i => assert((i to i + 4).forall(covered),
        "leaked gram fully excised"))
    }
    val row = Curation.widenedSavings(spark, sf).head
    assert(row.getLong(5) === removedW, "widened removal = exact interval union")
    // the blunt arms equal q334's exactly (same verdicts, same spans)
    val sav = Curation.decontamSavings(spark, sf).head
    assert(row.getLong(0) === sav.getLong(0) && row.getLong(1) === sav.getLong(1))
    assert(row.getLong(2) === sav.getLong(2) && row.getLong(3) === sav.getLong(3))
    assert(row.getLong(4) === sav.getLong(4), "passage arm = q334")
    assert(row.getLong(1) - row.getLong(4) === removedP, "passage removal recount")
    assert(row.getLong(6) === row.getLong(1) - removedW, "widened grain identity")
    assert(row.getLong(7) === removedW - removedP && row.getLong(7) >= 0L,
      "widened removal is a superset of the passage removal")
    assert(row.getDouble(8) ===
      (row.getLong(1) - removedW - row.getLong(3)).toDouble / row.getLong(1))
    assert(row.getLong(7) > 0L,
      "fixture must show a real boundary-gram price for the widened cut")
  }

  test("excised corpus: surgery recounted from raw text; no eval gram survives any segment") {
    val sf = "/root/testdata/sf0.001"
    def toks(text: String): Vector[String] =
      "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
    def posGrams(text: String): Vector[String] = {
      val t = toks(text)
      if (t.size < 5) Vector.empty else t.sliding(5).map(_.mkString(" ")).toVector
    }
    import org.apache.spark.sql.functions.{col => c}
    val meta = graft.core.Tables.documents(spark, sf)
      .select(c("doc_id"), c("text"),
        (Corpus.hashBucket(c("doc_id"), "eval_v1") < 200).as("ev"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse(""),
        r.getBoolean(2)))
    val evalGrams = meta.filter(_._3).flatMap(m => posGrams(m._2)).toSet
    val rows = Curation.excisedCorpus(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))).toMap
    val train = meta.filter(!_._3)
    assert(rows.keySet === train.map(_._1).toSet, "one row per training doc")
    train.foreach { case (id, text, _) =>
      val t = toks(text)
      val hits = posGrams(text).zipWithIndex.collect {
        case (g, i) if evalGrams(g) => i + 1 // 1-based gram start
      }
      val flagged = hits.map(i => (i - 1) / 8).distinct
      val covered = (hits.flatMap(i => i to (i + 4)) ++
        flagged.flatMap(p => (p * 8 + 1) to math.min((p + 1) * 8, t.size))).toSet
      // independent segment rebuild: contiguous runs of kept positions
      val segs = (1 to t.size).foldLeft(Vector.empty[Vector[String]]) { (acc, i) =>
        if (covered(i)) acc
        else if (acc.nonEmpty && !covered(i - 1) && i > 1)
          acc.init :+ (acc.last :+ t(i - 1))
        else acc :+ Vector(t(i - 1))
      }
      val (nt, rem, kept, nseg, txt) = rows(id)
      assert(nt === t.size.toLong, s"doc $id n_toks")
      assert(rem === covered.size.toLong, s"doc $id removed")
      assert(kept === (t.size - covered.size).toLong, s"doc $id kept ledger")
      assert(nseg === segs.size.toLong, s"doc $id segment count")
      assert(txt === segs.map(_.mkString(" ")).mkString(" | "), s"doc $id text")
      // THE guarantee the operator ships: no surviving segment carries any
      // eval gram — regrind every segment and check the suite set
      segs.foreach { seg =>
        seg.sliding(5).filter(_.size == 5).foreach(g =>
          assert(!evalGrams(g.mkString(" ")), s"doc $id leaked gram survived"))
      }
    }
    assert(rows.values.exists(r => r._2 > 0L && r._4 > 1L),
      "fixture must show a real multi-segment surgery")
    assert(rows.values.exists(r => r._2 === r._1 && r._1 > 0L && r._5 == ""),
      "fixture must show a fully-excised doc emitting the empty stream")
  }

  test("graduated corpus: actions recounted per doc; kept mass equals q360's ledger exactly") {
    val sf = "/root/testdata/sf0.001"
    def toks(text: String): Vector[String] =
      "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
    def posGrams(text: String): Vector[String] = {
      val t = toks(text)
      if (t.size < 5) Vector.empty else t.sliding(5).map(_.mkString(" ")).toVector
    }
    import org.apache.spark.sql.functions.{col => c}
    val meta = graft.core.Tables.documents(spark, sf)
      .select(c("doc_id"), c("text"),
        (Corpus.hashBucket(c("doc_id"), "eval_v1") < 200).as("ev"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse(""),
        r.getBoolean(2)))
    val evalGrams = meta.filter(_._3).flatMap(m => posGrams(m._2)).toSet
    val rows = Curation.graduatedCorpus(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val train = meta.filter(!_._3)
    assert(rows.keySet === train.map(_._1).toSet, "one row per training doc")
    var keptSum = 0L
    train.foreach { case (id, text, _) =>
      val t = toks(text)
      val hits = posGrams(text).zipWithIndex.collect {
        case (g, i) if evalGrams(g) => i + 1
      }
      val run = { // longest consecutive-run recount (q358's spelling)
        hits.foldLeft((0L, 0L, -2)) { case ((best, cur, prev), i) =>
          val r2 = if (i == prev + 1) cur + 1 else 1L
          (math.max(best, r2), r2, i)
        }._1
      }
      val sev = if (run == 0) "clean" else if (run <= 8) "quote"
        else if (run <= 32) "passage" else "wholesale"
      val flagged = hits.map(i => (i - 1) / 8).distinct
      val covered =
        if (sev == "passage")
          flagged.flatMap(p => (p * 8 + 1) to math.min((p + 1) * 8, t.size)).toSet
        else Set.empty[Int]
      val r = rows(id)
      assert(r.getString(1) === sev, s"doc $id severity")
      val expAction =
        if (sev == "wholesale") "drop" else if (sev == "passage") "excise" else "keep"
      assert(r.getString(2) === expAction, s"doc $id action")
      assert(r.getLong(3) === t.size.toLong, s"doc $id n_toks")
      val expRemoved =
        if (sev == "wholesale") t.size.toLong
        else if (sev == "passage") covered.size.toLong else 0L
      assert(r.getLong(4) === expRemoved, s"doc $id removed")
      assert(r.getLong(5) === t.size - expRemoved, s"doc $id kept")
      keptSum += r.getLong(5)
      if (expAction == "drop") {
        assert(r.isNullAt(6) && r.isNullAt(7), s"doc $id drop emits NULLs")
      } else {
        val segs = (1 to t.size).foldLeft(Vector.empty[Vector[String]]) { (acc, i) =>
          if (covered(i)) acc
          else if (acc.nonEmpty && i > 1 && !covered(i - 1))
            acc.init :+ (acc.last :+ t(i - 1))
          else acc :+ Vector(t(i - 1))
        }
        assert(r.getLong(6) === segs.size.toLong, s"doc $id segments")
        assert(r.getString(7) === segs.map(_.mkString(" ")).mkString(" | "),
          s"doc $id stream")
      }
    }
    // the card's number and the shipped corpus agree exactly
    val g = Curation.graduatedPolicy(spark, sf).head
    assert(keptSum === g.getLong(7), "Σ kept = q360 retained_graduated")
    val acts = rows.values.groupBy(_.getString(2)).map { case (k, v) => k -> v.size }
    assert(acts.getOrElse("drop", 0) === g.getLong(4).toInt, "drops = wholesale")
    assert(acts.getOrElse("excise", 0) === g.getLong(3).toInt, "excises = passage class")
    assert(acts.getOrElse("drop", 0) > 0 && acts.getOrElse("excise", 0) > 0,
      "fixture must exercise all three actions")
  }

  test("excision audit: every post-surgery doc scores clean under q75's own detector") {
    val sf = "/root/testdata/sf0.001"
    val rows = Curation.excisionAudit(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val before = Curation.decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(rows.keySet === before.keySet, "audit spine = the training corpus")
    // the closed loop: the corpus HAD leaks (the audit is not vacuous)...
    assert(before.values.exists(_._2), "fixture must be contaminated pre-surgery")
    // ...and after q373's cut, ZERO remain under the same detector
    rows.foreach { case (id, (ngPost, nhPost, clean)) =>
      assert(nhPost === 0L && clean, s"doc $id must score clean post-surgery")
      assert(ngPost <= before(id)._1, s"doc $id cannot gain grams from surgery")
    }
    // surgery genuinely removed gram mass somewhere (cuts break windows)
    assert(rows.exists { case (id, (ngPost, _, _)) => ngPost < before(id)._1 },
      "fixture must show the cut reducing some doc's gram set")
  }

  test("per-source graduated savings: rows sum to q360; per-feed arms recounted") {
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.{col => c}
    val rows = Curation.graduatedSavingsBySource(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // feed rows sum exactly to q360's corpus row, column for column
    val g = Curation.graduatedPolicy(spark, sf).head
    def total(i: Int) = rows.values.map(_.getLong(i)).sum
    assert(total(1) === g.getLong(0) && total(2) === g.getLong(1), "volume sums")
    assert(total(3) === g.getLong(2) && total(4) === g.getLong(3) &&
      total(5) === g.getLong(4), "class sums")
    assert(total(6) === g.getLong(5) && total(7) === g.getLong(6) &&
      total(8) === g.getLong(7), "policy-arm sums")
    // per-feed recount off q358's runs + q331's removals
    val spans = Curation.leakSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val meta = Corpus.docTokens(spark, sf)
      .filter(Corpus.hashBucket(c("doc_id"), "eval_v1") >= 200)
      .select(c("doc_id"), c("source"), c("n_alpha_toks")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val toksM = meta.map(m => m._1 -> m._3).toMap
    val removed = Curation.passageDecontaminate(spark, sf).collect()
      .filter(_.getBoolean(4))
      .groupBy(_.getLong(0)).map { case (id, ps) =>
        id -> ps.map(p => math.min(8L, toksM(id) - p.getLong(1) * 8L)).sum
      }
    assert(rows.keySet === meta.map(_._2).toSet, "every training feed appears")
    meta.groupBy(_._2).foreach { case (src, docs) =>
      val r = rows(src)
      val runs = docs.map(d => (spans(d._1), d._3, removed.getOrElse(d._1, 0L)))
      assert(r.getLong(1) === docs.size.toLong, s"$src n_docs")
      assert(r.getLong(6) === runs.filter(_._1 == 0L).map(_._2).sum, s"$src doc grain")
      assert(r.getLong(7) === runs.map(x => x._2 - x._3).sum, s"$src passage grain")
      val grad = runs.map { case (run, nt, rem) =>
        if (run > 32L) 0L else if (run > 8L) nt - rem else nt
      }.sum
      assert(r.getLong(8) === grad, s"$src graduated")
      assert(r.getDouble(9) ===
        (grad - r.getLong(6)).toDouble / r.getLong(2).toDouble, s"$src share")
    }
    assert(rows.values.exists(r => r.getLong(8) > r.getLong(6)),
      "fixture must show a feed graduation actually rescues")
  }

  test("release diff: v1 arms equal q351/q332; delta is the exact v2 − v1 difference") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.ops.ReportCard.releaseDiff(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("v1", "v2", "delta"))
    val (v1, v2, d) = (rows("v1"), rows("v2"), rows("delta"))
    // the V1 arms equal the audits they summarize (q351's card / q332's solver)
    val card = graft.ops.ReportCard.releaseReadiness(spark, sf).head
    assert(v1.getLong(1) === card.getLong(0), "v1 docs = q351")
    assert(v1.getLong(2) === card.getLong(1), "v1 raw tokens = q351")
    assert(v1.getLong(3) === card.getLong(4), "v1 train docs = q351")
    assert(v1.getLong(4) === card.getLong(5), "v1 flagged = q351")
    assert(v1.getDouble(5) === card.getDouble(6), "v1 rate = q351")
    assert(v1.getLong(6) === card.getLong(9), "v1 burned = q351")
    val mix = graft.ops.TrainingMix.domainMix(spark, sf).collect()
    assert(v1.getLong(7) === mix.count(!_.getBoolean(8)).toLong, "v1 mix arm = q332")
    // the delta row is the exact difference, column for column
    for (i <- Seq(1, 2, 3, 4, 6, 7))
      assert(d.getLong(i) === v2.getLong(i) - v1.getLong(i), s"delta col $i")
    assert(d.getDouble(5) === v2.getDouble(5) - v1.getDouble(5), "delta rate")
    // v2 really is the refreshed corpus (the q101 derivation's volume)
    import org.apache.spark.sql.functions.{col => c, pmod, lit}
    val n2 = graft.core.Tables.documents(spark, sf)
      .filter(pmod(c("doc_id"), lit(11)) =!= 3).count()
    assert(v2.getLong(1) === n2, "v2 volume = the q101 derivation")
    assert(d.getLong(1) < 0L, "the refresh drops documents on this fixture")
  }

  test("leak severity by source: feed rollup recounted from q358's own rows") {
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.{col => c}
    val spans = Curation.leakSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val meta = Corpus.docTokens(spark, sf)
      .filter(Corpus.hashBucket(c("doc_id"), "eval_v1") >= 200)
      .select(c("doc_id"), c("source"), c("n_alpha_toks")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val rows = Curation.leakSeverityBySource(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === meta.map(_._2).toSet,
      "every training feed appears, fully-clean included")
    meta.groupBy(_._2).foreach { case (src, docs) =>
      val runs = docs.map(d => (spans(d._1), d._3))
      val r = rows(src)
      assert(r.getLong(1) === docs.size.toLong, s"$src n_docs")
      assert(r.getLong(2) === runs.count(x => x._1 >= 1 && x._1 <= 8).toLong, s"$src quote")
      assert(r.getLong(3) === runs.count(x => x._1 > 8 && x._1 <= 32).toLong, s"$src passage")
      assert(r.getLong(4) === runs.count(_._1 > 32).toLong, s"$src wholesale")
      assert(r.getLong(5) === runs.filter(_._1 > 32).map(_._2).sum, s"$src wholesale mass")
    }
    assert(rows.values.exists(_.getLong(4) > 0L),
      "fixture must show a feed republishing benchmark content")
    assert(rows.values.exists(r => r.getLong(2) + r.getLong(3) + r.getLong(4) === 0L),
      "fixture must show a fully-clean feed keeping its row")
  }

  test("severity drift: batch census recounted from q358's rows; cumulative reconciles q360") {
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.{col => c}
    val spans = Curation.leakSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val meta = Corpus.docTokens(spark, sf)
      .filter(Corpus.hashBucket(c("doc_id"), "eval_v1") >= 200)
      .select(c("doc_id"), (Corpus.hashBucket(c("doc_id"), "crawl_v1") % 8L).as("b"),
        c("n_alpha_toks")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rows = Curation.severityDrift(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet === (0L until 8L).toSet, "static 0..7 spine")
    var cum = 0L
    (0L until 8L).foreach { b =>
      val docs = meta.filter(_._2 == b)
      val runs = docs.map(d => (spans(d._1), d._3))
      val r = rows(b)
      assert(r.getLong(1) === docs.size.toLong, s"batch $b n_docs")
      assert(r.getLong(2) === runs.count(x => x._1 >= 1 && x._1 <= 8).toLong, s"batch $b quote")
      assert(r.getLong(3) === runs.count(x => x._1 > 8 && x._1 <= 32).toLong, s"batch $b passage")
      assert(r.getLong(4) === runs.count(_._1 > 32).toLong, s"batch $b wholesale")
      assert(r.getLong(5) === runs.filter(_._1 > 32).map(_._2).sum, s"batch $b mass")
      cum += runs.count(_._1 > 32)
      assert(r.getLong(6) === cum, s"batch $b cumulative")
    }
    // the cumulative endpoint is q360's wholesale count — same classes,
    // different axis
    assert(cum === Curation.graduatedPolicy(spark, sf).head.getLong(4),
      "cumulative endpoint reconciles q360's n_wholesale")
    assert(rows.values.exists(_.getLong(4) > 0L) &&
      rows.values.exists(_.getLong(4) === 0L),
      "fixture must show delivering and clean batches")
  }

  test("rare-gram decontamination: df recounted from raw grams; strict is one-sided") {
    val sf = "/root/testdata/sf0.001"
    def grams(text: String): Set[String] = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
      if (toks.size < 5) Set.empty else toks.sliding(5).map(_.mkString(" ")).toSet
    }
    import org.apache.spark.sql.functions.{col => c}
    val meta = graft.core.Tables.documents(spark, sf)
      .select(c("doc_id"), c("text"),
        (Corpus.hashBucket(c("doc_id"), "eval_v1") < 200).as("ev"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse(""),
        r.getBoolean(2)))
    val evalGrams = meta.filter(_._3).flatMap(m => grams(m._2)).toSet
    val train = meta.filter(!_._3)
    val df = scala.collection.mutable.Map.empty[String, Long]
    train.foreach { case (_, text, _) =>
      grams(text).foreach(g => df.update(g, df.getOrElse(g, 0L) + 1L)) }
    val rows = Curation.rareGramDecontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getBoolean(4),
        r.getBoolean(5)))).toMap
    assert(rows.keySet === train.map(_._1).toSet, "one row per training doc")
    train.foreach { case (id, text, _) =>
      val hits = grams(text).filter(evalGrams)
      val rare = hits.count(df(_) <= 1L).toLong
      val (nh, nr, cont, strict) = rows(id)
      assert(nh === hits.size.toLong && nr === rare, s"doc $id hit/rare counts")
      assert(cont === hits.nonEmpty && strict === (rare > 0L), s"doc $id verdicts")
      assert(!strict || cont, s"doc $id strict implies q75-flagged")
    }
    val rescued = rows.values.count(v => v._3 && !v._4)
    assert(rescued === 3,
      "fixture geometry: exactly three docs are df-exempted at maxDf=1")
    assert(rows.values.exists(_._4), "fixture must keep at least one strict flag")
  }

  test("burn drift: arrival batches recounted from raw grams; reconciles q349") {
    val sf = "/root/testdata/sf0.001"
    def grams(text: String): Set[String] = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
      if (toks.size < 5) Set.empty else toks.sliding(5).map(_.mkString(" ")).toSet
    }
    import org.apache.spark.sql.functions.{col => c}
    val meta = graft.core.Tables.documents(spark, sf)
      .select(c("doc_id"), c("text"),
        (Corpus.hashBucket(c("doc_id"), "eval_v1") < 200).as("ev"),
        (Corpus.hashBucket(c("doc_id"), "crawl_v1") % 8L).as("batch"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse(""),
        r.getBoolean(2), r.getLong(3)))
    val arrival = scala.collection.mutable.Map.empty[String, Long]
    meta.filter(!_._3).foreach { case (_, text, _, b) =>
      grams(text).foreach(g => arrival.update(g, math.min(b, arrival.getOrElse(g, 99L))))
    }
    val burnOf = meta.filter(_._3).flatMap { case (id, text, _, _) =>
      val g = grams(text)
      if (g.nonEmpty && g.forall(arrival.contains)) Some(id -> g.map(arrival).max)
      else None
    }.toMap
    val rows = graft.ops.Curation.burnDrift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === (0L to 7L), "full static batch spine")
    val nItems = meta.count(_._3).toLong
    rows.foreach { case (b, n, cum, ni, share) =>
      assert(n === burnOf.values.count(_ == b).toLong, s"batch $b burn count")
      assert(cum === burnOf.values.count(_ <= b).toLong, s"batch $b cumulative")
      assert(ni === nItems && share === cum.toDouble / nItems, s"batch $b share")
    }
    // the drift's endpoint IS q349's burned count — same definition of burn
    assert(rows.last._3 ===
      Curation.burnedEvalItems(spark, sf).collect().count(_.getBoolean(4)).toLong,
      "cumulative endpoint reconciles q349")
    assert(rows.last._3 > 0, "fixture must burn at least one item")
  }

  test("doc_tokens census is paid once per session and shared across the tier") {
    // verdict item 1's attribution gate: the per-doc token projection was
    // recomputed at ~19 sites; now q313/q338 (and the whole mix tier) ride
    // ONE memoized census.
    val sf = "/root/testdata/sf0.001"
    val m0 = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("doc_tokens", 0L)
    Curation.dedupSavings(spark, sf).collect()
    Curation.sourceContamination(spark, sf).collect()
    graft.ops.TrainingMix.domainMix(spark, sf).collect()
    val m1 = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("doc_tokens", 0L)
    val h1 = Memo.counterSnapshot(Memo.cacheHits).getOrElse("doc_tokens", 0L)
    assert(m1 - m0 <= 1L, "census materialized at most once for three consumers")
    assert(h1 >= 1L, "later consumers rode the memo")
  }

  test("passage verdicts are paid once per session and shared by q331/q334") {
    // the round's memo lesson applied to its own new pair: the default-args
    // passage-flag table materializes once; crafted-fixture calls (other
    // params) bypass the memo so they can never alias the session key.
    val sf = "/root/testdata/sf0.001"
    val m0 = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("passage_flags", 0L)
    Curation.passageDecontaminate(spark, sf).collect()
    Curation.decontamSavings(spark, sf).collect()
    val m1 = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("passage_flags", 0L)
    val h1 = Memo.counterSnapshot(Memo.cacheHits).getOrElse("passage_flags", 0L)
    assert(m1 - m0 <= 1L, "verdict table materialized at most once for both consumers")
    assert(h1 >= 1L, "the second consumer rode the memo")
  }

  test("leak spans are paid once per session and shared by the severity tier") {
    // the two-consumer rule applied to the round's own new tier: q358's
    // islands frame materializes once; q359/q360/q361 ride it.
    val sf = "/root/testdata/sf0.001"
    val m0 = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("leak_spans", 0L)
    Curation.leakSpans(spark, sf).collect()
    Curation.leakSeverityProfile(spark, sf).collect()
    Curation.graduatedPolicy(spark, sf).collect()
    Curation.leakSeverityBySource(spark, sf).collect()
    val m1 = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("leak_spans", 0L)
    val h1 = Memo.counterSnapshot(Memo.cacheHits).getOrElse("leak_spans", 0L)
    assert(m1 - m0 <= 1L, "islands frame materialized at most once for four consumers")
    assert(h1 >= 1L, "later consumers rode the memo")
  }

  test("semantic flags are paid once per session and shared by q354/q356/q357/q351") {
    val sf = "/root/testdata/sf0.001"
    val m0 = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("semantic_flags", 0L)
    graft.ops.Similarity.semanticDecontam(spark, sf).collect()
    graft.ops.Similarity.semanticDecontamIvf(spark, sf).collect()
    graft.ops.Similarity.semanticLeakBySource(spark, sf).collect()
    graft.ops.ReportCard.releaseReadiness(spark, sf).collect()
    val m1 = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("semantic_flags", 0L)
    val h1 = Memo.counterSnapshot(Memo.cacheHits).getOrElse("semantic_flags", 0L)
    assert(m1 - m0 <= 1L, "NN audit materialized at most once for four consumers")
    assert(h1 >= 1L, "later consumers rode the memo")
  }

  test("family drift: per-batch census recounted from the labels and hash batches") {
    import org.apache.spark.sql.functions.{col => c}
    val sf = "/root/testdata/sf0.001"
    val labeled = Graph.dupClusters(spark, sf)
      .select(c("doc_id"), c("cluster_id"),
        (Corpus.hashBucket(c("doc_id"), "crawl_v1") % 8L).as("batch"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val founded = labeled.groupBy(_._2).map { case (cl, ms) => cl -> ms.map(_._3).min }
    val byBatch = labeled.groupBy(_._3)
    val rows = Curation.familyDrift(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getLong(6)))).toMap
    assert(rows.keySet === byBatch.keySet, "one row per non-empty batch")
    var cum = 0L
    rows.keys.toSeq.sorted.foreach { b =>
      val (nDocs, nNewFam, nNew, nExist, share, cumFam) = rows(b)
      val docs = byBatch(b)
      assert(nDocs === docs.length.toLong, s"batch $b docs")
      assert(nNewFam === docs.filter(d => founded(d._2) == b).map(_._2).distinct.length.toLong,
        s"batch $b new families")
      assert(nNew === docs.count(d => founded(d._2) == b).toLong, s"batch $b founders")
      assert(nExist === docs.count(d => founded(d._2) < b).toLong, s"batch $b inflators")
      assert(nNew + nExist === nDocs, "every doc founds or inflates")
      assert(share === nExist.toDouble / nDocs.toDouble, s"batch $b share")
      cum += nNewFam
      assert(cumFam === cum, s"batch $b cumulative families")
    }
    assert(cum === founded.size.toLong, "cumulative families end at the family count")
  }

  test("repetitionStats is a pure per-row map with exact counts and guarded edges") {
    import spark.implicits._
    val d = tmpDir("repet")
    Seq(
      (1L, "spam spam spam spam", "en", 19),  // one token repeated
      (2L, "alpha beta gamma delta", "en", 22),  // all distinct
      (3L, "x y x y x", "en", 9),  // alternating: "x y" appears twice
      (4L, "single", "en", 6),  // no bigrams
      (5L, "", "en", 0))  // empty
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = Curation.repetitionStats(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(out(1L) == ((4L, 0.75, 3L, 3L, 1.0)))           // dup 1-1/4; "spam spam" ×3
    assert(out(2L) == ((4L, 0.0, 3L, 1L, 1.0 / 3.0)))      // distinct bigrams
    assert(out(3L) == ((5L, 1.0 - 2.0 / 5.0, 4L, 2L, 0.5))) // "x y" ×2 of 4
    assert(out(4L) == ((1L, 0.0, 0L, 0L, 0.0)))
    assert(out(5L) == ((0L, 0.0, 0L, 0L, 0.0)))
  }

  test("decontaminateAgainst scores docs against a genuinely external suite") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "entirely unrelated sentence about glacier formation and erosion"),
      (3L, "tiny doc"))
      .toDF("doc_id", "text")
    val suite = Seq("benchmark prompt the quick brown fox jumps over the lazy dog")
      .toDF("text")
    val out = Curation.decontaminateAgainst(docs, suite)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L)._3 && out(1L)._2 >= 1)              // shares the fox 5-grams
    assert(out(2L) == ((4L, 0L, false)))               // 8 tokens → 4 grams, no hits
    assert(out(3L) == ((0L, 0L, false)))               // short-doc guard
  }

  test("native word-gram expression ≡ HOF formulation on real corpus and crafted edges") {
    import spark.implicits._
    val edges = Seq(
      "the quick brown fox jumps over the lazy dog",
      "Short",
      "",
      "  punctuation, splits!tokens;here and STILL counts one two three  ",
      "dup dup dup dup dup dup dup",                    // repeated grams → distinct
      "汉字 mixed 中文 with ascii tokens one two three four", // multi-byte
      "UPPER case TEXT with five tokens minimum")
      .toDF("text")
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text"))
    for (df <- Seq(edges, corpus); n <- Seq(2, 5)) {
      val cmp = df.select(
        CurationTestHook.native(col("text"), n).as("a"),
        CurationTestHook.hof(col("text"), n).as("b"))
      assert(cmp.filter(not(col("a") <=> col("b"))).isEmpty,
        s"native/HOF divergence at n=$n")
    }
  }

  test("passageDedup removes cross-doc chunks, keeps order, guards edges") {
    import spark.implicits._
    val d = tmpDir("passage")
    val shared = "alpha beta gamma delta epsilon zeta eta theta"   // exactly one 8-token chunk
    val uniqA  = "apple banana cherry date elder fig grape honey"
    val uniqB  = "iris jade kiwi lemon mango nectar olive peach"
    Seq(
      (1L, s"$shared $uniqA", "en", 95),      // chunk0 shared, chunk1 unique
      (2L, s"$shared $uniqB", "en", 95),      // chunk0 shared, chunk1 unique
      (3L, shared, "en", 47),                 // ALL chunks removed → empty text
      (4L, "lonely short tail", "en", 17),    // 3 tokens → one short chunk, kept
      (5L, "", "en", 0))                      // zero tokens → absent from output
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = Curation.passageDedup(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 1L, uniqA)))
    assert(out(2L) == ((2L, 1L, uniqB)))
    assert(out(3L) == ((1L, 1L, "")))         // nothing survives → empty string
    assert(out(4L) == ((1L, 0L, "lonely short tail")))
    assert(!out.contains(5L))
    // chunk-boundary check: 9 tokens → [8-token chunk, 1-token chunk]
    val d2 = tmpDir("passage9")
    Seq((1L, s"$shared iota", "en", 52))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val nine = Curation.passageDedup(spark, d2).collect()
    assert(nine.length == 1 &&
      nine(0).getLong(1) == 2L && nine(0).getLong(2) == 0L &&
      nine(0).getString(3) == s"$shared iota")
  }

  test("qualityRepresentatives picks the per-cluster quality argmax, ties to lowest id") {
    val sf = "/root/testdata/sf0.001"
    val reps = Curation.qualityRepresentatives(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    val members = Graph.dupClusters(spark, sf)
      .select(col("doc_id"), col("cluster_id"))
      .join(graft.core.Tables.documents(spark, sf)
        .select(col("doc_id"), TextAnalysis.qualityScore.as("q")), Seq("doc_id"))
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2)))
    val expected = members.groupBy(_._1).map { case (cl, ms) =>
      val best = ms.minBy(m => (-m._3, m._2))  // quality desc, doc_id asc
      cl -> ((best._2, ms.length.toLong))
    }
    assert(reps.nonEmpty && reps == expected)
  }

  test("split leakage: cells recount the verified dup pairs under the split map") {
    val sf = "/root/testdata/sf0.001"
    val splits = Corpus.hashSplit(spark, sf).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (splits(a), splits(b))
      (if (sa < sb) sa else sb, if (sa < sb) sb else sa)
    }.map { case (k, v) => k -> v.length.toLong }
    val rows = Curation.splitLeakage(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(rows.keySet === expect.keySet)
    rows.foreach { case (k @ (lo, hi), (n, leak)) =>
      assert(n === expect(k), s"cell $k")
      assert(leak === (lo != hi))
      assert(lo <= hi, "canonical order")
    }
    assert(rows.values.map(_._1).sum === pairs.length.toLong, "every pair counted once")
  }

  test("contamination matrix: cells recount the verified pairs; rates use exact capacities") {
    val sf = "/root/testdata/sf0.001"
    val src = graft.core.Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val counts = src.values.groupBy(identity).map { case (s, xs) => (s, xs.size.toLong) }
    val pairs = Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (src(a), src(b))
      (if (sa < sb) sa else sb, if (sa < sb) sb else sa)
    }.map { case (k, v) => k -> v.length.toLong }
    val rows = Curation.contaminationMatrix(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6))))
      .toMap
    assert(rows.keySet === expect.keySet)
    rows.foreach { case (k @ (lo, hi), (n, nLo, nHi, rate, cross)) =>
      assert(n === expect(k), s"cell $k")
      assert(nLo === counts(lo) && nHi === counts(hi), s"cell $k source counts")
      val cap = if (lo == hi) nLo * (nLo - 1) / 2 else nLo * nHi
      assert(rate === n.toDouble / cap.toDouble, s"cell $k rate")
      assert(cross === (lo != hi))
      assert(rate >= 0.0 && rate <= 1.0)
    }
    assert(rows.values.map(_._1).sum === pairs.length.toLong, "every pair counted once")
  }

  test("cluster split: census recomputed off q55's labels; zero leakage by construction") {
    val sf = "/root/testdata/sf0.001"
    def bucket(clusterId: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$clusterId:cluster_split_v1".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 1000
    }
    def split(b: Long): String =
      if (b < 900) "train" else if (b < 950) "valid" else "test"
    val labels = Graph.dupClusters(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val assign = labels.map { case (d, c) => (d, c, split(bucket(c))) }
    val bySplit = assign.groupBy(_._3)
    val rows = Curation.clusterSplit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).sortBy(_._1)
    assert(rows.map(_._1).toSet === bySplit.keySet)
    rows.foreach { case (s, nDocs, nClusters, share, leaks) =>
      assert(nDocs === bySplit(s).length.toLong, s"$s doc count")
      assert(nClusters === bySplit(s).map(_._2).distinct.length.toLong,
        s"$s cluster count")
      assert(share === nDocs.toDouble / labels.length.toDouble)
      assert(leaks === 0L,
        "cluster-level hashing makes cross-split dup pairs structurally zero")
    }
    // the construction argument, checked directly: both endpoints of every
    // verified pair share a cluster, hence a split
    val byDoc = assign.map(a => (a._1, a._3)).toMap
    val pairs = Dedup.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(byDoc(a) === byDoc(b), s"pair ($a,$b) straddles splits")
    }
  }

  test("cluster folds: census recomputed; zero cross-fold leakage by construction") {
    val sf = "/root/testdata/sf0.001"
    def bucket(clusterId: Long, salt: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$clusterId:$salt".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 1000
    }
    val labels = Graph.dupClusters(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val assign = labels.map { case (d, c) => (d, c, bucket(c, "fold_v1") % 5) }
    val byFold = assign.groupBy(_._3)
    val rows = Curation.clusterFolds(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).sortBy(_._1)
    assert(rows.map(_._1).toSet === byFold.keySet)
    rows.foreach { case (f, nDocs, nClusters, share, leaks) =>
      assert(nDocs === byFold(f).length.toLong, s"fold $f docs")
      assert(nClusters === byFold(f).map(_._2).distinct.length.toLong)
      assert(share === nDocs.toDouble / labels.length.toDouble)
      assert(leaks === 0L, "cluster-unit folds cannot leak near-dups")
    }
    val byDoc = assign.map(a => (a._1, a._3)).toMap
    Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b").collect()
      .foreach { r =>
        assert(byDoc(r.getLong(0)) === byDoc(r.getLong(1)),
          "verified pair endpoints share a fold")
      }
  }

  test("fold eval: sides complement exactly; per-fold stats recount q310's census") {
    val sf = "/root/testdata/sf0.001"
    val census = Curation.clusterFolds(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val rows = Curation.foldEval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    assert(rows.map(_._1).toSet === census.keySet, "folds match q310's census")
    val totalDocs = census.values.sum
    val totalTok = rows.map(_._4).sum
    rows.foreach { case (f, nv, ntr, vTok, tTok, share, aqv, aqt) =>
      assert(nv === census(f), s"fold $f validation docs recount q310")
      assert(nv + ntr === totalDocs, s"fold $f sides partition the corpus")
      assert(vTok + tTok === totalTok, s"fold $f token sides complement")
      assert(share === vTok.toDouble / totalTok.toDouble, s"fold $f share")
      // quality means live where per-doc scores live (the score tree is
      // bounded well inside [0, 2] on real text)
      assert(aqv > 0.0 && aqt > 0.0 && aqv < 2.0 && aqt < 2.0, s"fold $f quality")
    }
    // every fold sees the same corpus-wide totals from its own two sides
    assert(rows.map(r => r._2 + r._3).distinct.length === 1)
    assert(rows.map(r => r._4 + r._5).distinct.length === 1)
  }

  test("eval-leak hotspots: every hotspot is a real eval gram; counts recount q75") {
    val sf = "/root/testdata/sf0.001"
    val rows = Curation.evalLeakHotspots(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.length <= 20)
    // descending by count with the gram tiebreak — the emitted order's ranks
    val sorted = rows.sortBy(r => (-r._2, r._1))
    assert(rows.toSeq === sorted.toSeq, "hotspots ordered (n_docs DESC, gram)")
    // recount each hotspot from the raw gram tables: distinct training docs
    // carrying the gram, gram present in the eval slice
    import org.apache.spark.sql.functions.{col, explode}
    val isEval = Corpus.hashBucket(col("doc_id"), "eval_v1") < 200
    val docs = graft.core.Tables.documents(spark, sf)
    val evalGrams = docs.filter(isEval)
      .select(explode(Curation.wordGrams(col("text"), 5)).as("gram"))
      .collect().map(_.getString(0)).toSet
    val trainGrams = docs.filter(!isEval)
      .select(col("doc_id"), explode(Curation.wordGrams(col("text"), 5)).as("gram"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    rows.foreach { case (gram, n) =>
      assert(evalGrams(gram), s"hotspot $gram not in the eval slice")
      assert(n === trainGrams.filter(_._2 == gram).map(_._1).distinct.length.toLong,
        s"hotspot $gram count")
    }
    // total contaminated grams implies the hotspot list is the true top-k
    val counts = trainGrams.filter(t => evalGrams(t._2)).groupBy(_._2)
      .map { case (g, xs) => (g, xs.map(_._1).distinct.length.toLong) }.toSeq
    val expected = counts.sortBy(r => (-r._2, r._1)).take(20).toSeq
    assert(rows.toSeq === expected, "exact top-k of the full hotspot census")
  }

  test("dup family profile: per-cluster census recounted off q55's labels") {
    val sf = "/root/testdata/sf0.001"
    val labels = Graph.dupClusters(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2)),
        "[a-z0-9]+".r.findAllIn(r.getString(3).toLowerCase).size.toLong))).toMap
    val rows = Curation.dupFamilyProfile(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    val families = labels.groupBy(_._2).filter(_._2.length >= 2)
    assert(rows.map(_._1).toSet === families.keySet, "every multi-member family")
    rows.foreach { case (c, nm, ns, nl, toks, cross) =>
      val members = families(c).map(_._1)
      assert(members.min === c, "representative is the min member = cluster id")
      assert(nm === members.length.toLong)
      assert(ns === members.map(docs(_)._1).distinct.length.toLong, s"cluster $c sources")
      assert(nl === members.flatMap(m => docs(m)._2).distinct.length.toLong,
        s"cluster $c langs")
      assert(toks === members.map(docs(_)._3).sum, s"cluster $c tokens")
      assert(cross === (ns > 1))
    }
  }

  test("dedup savings: recounted off q55's own labels; savings in [0, 1)") {
    val sf = "/root/testdata/sf0.001"
    val toks = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).size.toLong)).toMap
    val labels = Graph.dupClusters(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val raw = labels.map(l => toks(l._1)).sum
    val kept = labels.collect { case (d, c) if d == c => toks(d) }.sum
    val row = Curation.dedupSavings(spark, sf).collect().head
    assert(row.getLong(0) === labels.length.toLong)
    assert(row.getLong(1) === labels.count(l => l._1 == l._2).toLong)
    assert(row.getLong(2) === raw, "raw token total")
    assert(row.getLong(3) === kept, "representative token total")
    assert(row.getDouble(4) === (raw - kept).toDouble / raw.toDouble)
    assert(row.getDouble(4) >= 0.0 && row.getDouble(4) < 1.0)
  }

  test("split profile: cells partition q299's census; shares sum to one; tokens recount") {
    val sf = "/root/testdata/sf0.001"
    val census = Curation.clusterSplit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val rows = Curation.splitProfile(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val bySplit = rows.groupBy(_._1)
    assert(bySplit.keySet === census.keySet)
    bySplit.foreach { case (s, cells) =>
      assert(cells.map(_._3).sum === census(s), s"$s docs partition the census")
      assert(math.abs(cells.map(_._5).sum - 1.0) < 1e-9, s"$s shares sum to 1")
    }
    // token counts recomputed from the raw text for one split's cells
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        "[a-z0-9]+".r.findAllIn(r.getString(2).toLowerCase).size.toLong))
    val firstSplit = bySplit.keySet.toSeq.sorted.head
    val inSplit = Curation.clusterSplitAssign(spark, sf, "cluster_split_v1")
      .select("doc_id", "split").collect()
      .filter(_.getString(1) == firstSplit).map(_.getLong(0)).toSet
    val expectedTok = docs.filter(d => inSplit(d._1)).groupBy(_._2)
      .map { case (src, ds) => (src, ds.map(_._3).sum) }
    bySplit(firstSplit).foreach { case (_, src, _, nTok, _) =>
      assert(nTok === expectedTok(src), s"$firstSplit/$src token recount")
    }
  }
}
