package graft.ops

import graft.SparkSpec
import graft.core.Memo

/** Hand-computed fixed-point bigram-LM scores on a corpus small enough to
  * verify every smoothed probability by hand, plus the short-document
  * contract (docs under 2 tokens surface with a zero count, not dropped).
  */
class LanguageModelSpec extends SparkSpec {

  test("bigram LM ppm scores match hand computation; short docs survive") {
    import spark.implicits._
    val d = tmpDir("lm")
    Seq(
      (1L, "a b a b", "en", 7L),
      (2L, "a b c", "en", 5L),
      (3L, "x", "en", 1L))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

    // c12: "a b"=3, "b a"=1, "b c"=1; c1: a=3, b=2; V=4
    // ppm("a b") = 4000000 div 7 = 571428
    // ppm("b a") = ppm("b c") = 2000000 div 6 = 333333
    val rows = LanguageModel.bigramLmScores(spark, d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
          r.getBoolean(4)))).toMap

    assert(rows(1L) === ((3L, 2L * 571428 + 333333, Some((2L * 571428 + 333333) / 3.0), false)))
    assert(rows(2L) === ((2L, 571428L + 333333, Some((571428L + 333333) / 2.0), true)))
    assert(rows(3L) === ((0L, 0L, None, false)))
  }

  test("perplexity filter reconciles with q110's scores; keep line is exact") {
    val sf = "/root/testdata/sf0.001"
    val q110 = LanguageModel.bigramLmScores(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    val rows = LanguageModel.perplexityFilter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4)))
    assert(rows.length === q110.size, "every document surfaces exactly once")
    // scores are q110's own probabilities, doc for doc
    rows.foreach { case (id, nb, ppm, _, _) =>
      assert((nb, ppm) === q110(id), s"doc $id diverged from q110")
    }
    val scored = rows.filter(_._2 > 0)
    val unscored = rows.filter(_._2 == 0)
    unscored.foreach { case (id, _, ppm, rk, kept) =>
      assert(ppm.isEmpty && rk.isEmpty && !kept, s"unscoreable doc $id")
    }
    // the rank is exactly the (avg_ppm, doc_id) permutation 1..n
    val expect = scored.sortBy(r => (r._3.get, r._1)).map(_._1)
    val byRank = scored.sortBy(_._4.get)
    assert(byRank.map(_._4.get).toSeq === (1L to scored.length).toSeq)
    assert(byRank.map(_._1).toSeq === expect.toSeq, "rank order")
    // keep line: exactly the bottom (n·200) div 1000 dropped
    val cut = scored.length * 200L / 1000L
    byRank.foreach { case (id, _, _, Some(rk), kept) =>
      assert(kept === (rk > cut), s"doc $id at rank $rk")
    case _ => fail("scored doc without a rank")
    }
    assert(scored.count(!_._5) === cut, "dropped count is the exact permille")
  }

  test("LM per-doc totals are paid once per session and shared by q110/q314") {
    // the round-16 memo: both consumers score off one materialized
    // (doc_id, ppm_sum, n_bigrams) frame, so after running both, the
    // lm_perdoc label shows at most one more miss and at least one hit —
    // the bigram model trained once for the pair.
    val sf = "/root/testdata/sf0.001"
    val m0 = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("lm_perdoc", 0L)
    LanguageModel.bigramLmScores(spark, sf).collect()
    LanguageModel.perplexityFilter(spark, sf).collect()
    val m1 = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("lm_perdoc", 0L)
    val h1 = Memo.counterSnapshot(Memo.cacheHits).getOrElse("lm_perdoc", 0L)
    assert(m1 - m0 <= 1L, "model trained at most once for both consumers")
    assert(h1 >= 1L, "the second consumer rode the memo")
  }

  test("DSIR weights point toward the target slice and keep short docs") {
    import spark.implicits._
    val d = tmpDir("dsir")
    Seq(
      (1L, "zebra stripe zebra stripe zebra stripe", "en", "src0", 38L),
      (2L, "zebra stripe pattern", "en", "src0", 20L),
      (3L, "common words common words common words common", "en", "src1", 45L),
      (4L, "zebra stripe common words", "en", "src1", 25L),
      (5L, "q", "en", "src1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

    val rows = LanguageModel.importanceWeights(spark, d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap

    assert(rows.size === 5, "every document scores, including the short one")
    assert(rows(1L)._2 > 0 && rows(1L)._3, "pure target-vocab doc scores positive")
    assert(rows(3L)._2 < 0 && !rows(3L)._3, "pure raw-vocab doc scores negative")
    assert(rows(4L)._2 > rows(3L)._2, "mixed doc ranks above pure raw doc")
    assert(rows(5L) === ((0L, 0L, false)), "sub-bigram doc: zero features, zero weight")
  }

  private def lnBridge(x: Double): Double =
    BigDecimal(math.log(x).toString).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  test("pmi collocations: exact top-k of the full pair set, formula recomputed") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.ops.TermStats.pmiCollocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, g) => assert(g.length <= 10, lang) }
    rows.foreach { case (lang, bigram, cab, ca, cb, nbi, pmi) =>
      assert(cab >= 5, s"$bigram below minCount")
      assert(ca >= cab && cb >= cab && nbi >= ca && nbi >= cb, "marginal containment")
      // the operator's own fixed tree: (ln c_ab + ln N) − ln c_a − ln c_b
      assert(pmi === lnBridge(cab.toDouble) + lnBridge(nbi.toDouble)
        - lnBridge(ca.toDouble) - lnBridge(cb.toDouble), s"$lang/$bigram")
    }
    // the k=10 pick is exactly the head of the full ≥minCount pair set
    val all = graft.ops.TermStats.pmiCollocations(spark, sf, k = Int.MaxValue)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(6)))
    all.groupBy(_._1).foreach { case (lang, g) =>
      val expect = g.sortBy(x => (-x._3, x._2)).take(10).map(_._2).toSet
      assert(rows.filter(_._1 == lang).map(_._2).toSet === expect, lang)
    }
  }

  test("split divergence: bounded, symmetric-construction identities hold") {
    val sf = "/root/testdata/sf0.001"
    val r = graft.ops.TermStats.splitDivergence(spark, sf).collect().head
    val (v, nt, nv) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (js, klTv, klVt) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(v > 0 && nt > 0 && nv > 0)
    assert(js >= -1e-9 && js <= math.log(2.0) + 1e-9, s"JS out of [0, ln2]: $js")
    assert(klTv >= -1e-9 && klVt >= -1e-9, "smoothed KLs are non-negative")
    // independent recompute from raw term counts, same bridges
    import org.apache.spark.sql.functions._
    val toks = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
    val split = graft.ops.Corpus.hashSplit(spark, sf).select(col("doc_id"), col("split"))
    val counts = toks.join(split, "doc_id")
      .filter(col("split").isin("train", "valid"))
      .groupBy("term")
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("ct"),
        sum(when(col("split") === "valid", 1L).otherwise(0L)).as("cv"))
      .collect().map(x => (x.getLong(1), x.getLong(2)))
    val (sumT, sumV, nVoc) = (counts.map(_._1).sum, counts.map(_._2).sum, counts.length)
    assert(nVoc.toLong === v && sumT === nt && sumV === nv)
    def fold(xs: Seq[Double]): Double =
      xs.map(x => BigDecimal(x.toString).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val jt = fold(counts.map { case (ct, cv) =>
      val p = (ct + 1).toDouble / (nt + v); val q = (cv + 1).toDouble / (nv + v)
      p * lnBridge(2.0 * p / (p + q))
    }.toSeq)
    val jv = fold(counts.map { case (ct, cv) =>
      val p = (ct + 1).toDouble / (nt + v); val q = (cv + 1).toDouble / (nv + v)
      q * lnBridge(2.0 * q / (p + q))
    }.toSeq)
    assert(js === 0.5 * (jt + jv), "JS equals the independent recompute")
  }
}
