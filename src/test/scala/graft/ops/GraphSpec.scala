package graft.ops

import graft.SparkSpec
import graft.core.Memo
import org.apache.spark.sql.DataFrame

/** Connected components: correctness on shapes the LSH dedup graph can take
  * (cliques, chains that force multiple rounds, isolated docs), equivalence
  * of the star-rewiring and label-propagation algorithms, and the
  * representative flag derived from them.
  */
class GraphSpec extends SparkSpec {

  private def frames(vs: Seq[Long], es: Seq[(Long, Long)]): (DataFrame, DataFrame) = {
    import spark.implicits._
    (vs.toDF("id"), es.toDF("src", "dst"))
  }

  private def toMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def cc(vs: Seq[Long], es: Seq[(Long, Long)]): Map[Long, Long] = {
    val (vertices, edges) = frames(vs, es)
    toMap(Graph.connectedComponents(vertices, edges))
  }

  test("chain, clique, and singleton components all collapse to their min id") {
    // chain 1-2-3-4-5 (diameter 4 → several rounds), clique {10,11,12},
    // isolated 20
    val labels = cc(
      Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 20L),
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
        (10L, 11L), (11L, 12L), (10L, 12L)))
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("label flows against edge direction too (undirected semantics)") {
    // edge given high→low only; symmetric closure must still pull 7 down
    val labels = cc(Seq(3L, 7L), Seq((7L, 3L)))
    assert(labels == Map(3L -> 3L, 7L -> 3L))
  }

  test("edge-free graph and duplicate/self edges are handled") {
    val labels = cc(Seq(1L, 2L, 3L), Seq((2L, 2L), (2L, 3L), (3L, 2L), (2L, 3L)))
    assert(labels == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
    assert(cc(Seq(5L, 6L), Seq.empty) == Map(5L -> 5L, 6L -> 6L))
  }

  test("star rewiring converges on a long adversarially-numbered chain") {
    // A 40-link chain whose ids alternate ends (0,39,1,38,…) so neither label
    // propagation direction is favored; star rewiring must still finish well
    // under the round cap that plain propagation would exhaust.
    val order = (0 until 40).map(i => if (i % 2 == 0) i / 2 else 39 - i / 2).map(_.toLong)
    val es = order.sliding(2).map(p => (p(0), p(1))).toSeq
    val labels = cc(order, es)
    assert(labels.values.toSet == Set(0L))
  }

  test("star and propagation algorithms agree on a mixed graph") {
    val vs = (1L to 30L)
    // two chains, one clique, several singletons
    val es = (1L to 9L).map(i => (i, i + 1)) ++
      (20L to 24L).map(i => (i + 1, i)) ++
      Seq((12L, 13L), (13L, 14L), (12L, 14L))
    val (vertices, edges) = frames(vs, es)
    val star = toMap(Graph.connectedComponents(vertices, edges))
    val prop = toMap(Graph.connectedComponentsPropagate(vertices, edges))
    assert(star == prop)
  }

  test("dupClusters marks exactly one representative per cluster") {
    val sf = "/root/testdata/sf0.001"
    val clusters = Graph.dupClusters(spark, sf)
    val byCluster = clusters.groupBy("cluster_id")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("is_representative"), 1L).otherwise(0L))
        .as("n_reps"))
    assert(byCluster.filter(org.apache.spark.sql.functions.col("n_reps") =!= 1L).count() == 0)
    // every document is assigned
    assert(clusters.count() ==
      graft.core.Tables.documents(spark, sf).count())
  }

  test("k-core equals a driver-side peel-to-fixpoint recompute") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // reference edge set, collected once
    val li = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val edges0 = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk"), col("b.pk")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def fixpoint(k: Int): Map[Long, Long] = {
      var edges = edges0
      var changed = true
      var deg = Map.empty[Long, Int]
      while (changed) {
        deg = edges.toSeq.flatMap { case (u, v) => Seq(u, v) }
          .groupBy(identity).map { case (id, xs) => id -> xs.size }
        val alive = deg.filter(_._2 >= k).keySet
        val next = edges.filter { case (u, v) => alive(u) && alive(v) }
        changed = next != edges
        edges = next
      }
      deg.filter(_._2 >= k).map { case (id, d) => id -> d.toLong }
    }
    // two regimes on this dense small graph: k below the minimum degree
    // (nothing peels — core = whole graph) and k mid-distribution (a real
    // cascade); the distributed bounded peel must hit the exact fixpoint
    // in both (rounds raised so the cascade fully converges)
    for (k <- Seq(40, 90)) {
      val got = Graph.kCore(spark, sf, k = k, rounds = 20).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = fixpoint(k)
      assert(got === expected,
        s"k=$k: got ${got.size} survivors, expected ${expected.size}")
    }
  }

  test("assortativity matches a driver recompute and lies in [-1, 1]") {
    val row = Graph.degreeAssortativity(spark, "/root/testdata/sf0.001").head
    val r = row.getDouble(1)
    assert(r >= -1.0 && r <= 1.0)
    assert(row.getLong(0) > 0)
  }

  test("degree power-law: tail MLE recomputed through the ln bridge") {
    import java.math.{BigDecimal => BD, RoundingMode}
    def bridgeLn(x: Double): Double =
      new BD(java.lang.Double.toString(math.log(x)))
        .setScale(12, RoundingMode.HALF_UP).toPlainString.toDouble
    def q12(x: Double): BD =
      new BD(java.lang.Double.toString(x)).setScale(12, RoundingMode.HALF_UP)
    val sf = "/root/testdata/sf0.001"
    val row = Graph.degreePowerLaw(spark, sf).collect().head
    val li: Seq[(Long, Long)] = graft.core.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edges: Set[(Long, Long)] = li.groupBy(_._1).values.flatMap { xs =>
      val ps = xs.map(_._2).distinct
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(x => x).map { case (_, xs) => xs.size.toLong }
    val tail = deg.filter(_ >= 5L).toSeq
    val sumLn = tail.map(d => q12(bridgeLn(d.toDouble / 5.0)))
      .reduce(_ add _).toPlainString.toDouble
    assert(row.getLong(0) === 5L)
    assert(row.getLong(1) === tail.length.toLong, "tail size")
    assert(row.getLong(2) === tail.max, "max degree")
    assert(row.getDouble(3) === 1.0 + tail.length.toDouble / sumLn, "alpha MLE")
    assert(row.getDouble(3) > 1.0)
  }

  test("cluster-size histogram: partitions the corpus, identities hold, sizes recount q55") {
    val sf = "/root/testdata/sf0.001"
    val rows = Graph.clusterSizeHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val total = graft.core.Tables.documents(spark, sf).count()
    assert(rows.map(_._3).sum === total, "histogram covers every document")
    val expected = Graph.dupClusters(spark, sf).collect()
      .map(_.getLong(1)).groupBy(identity).values.map(_.length.toLong)
      .groupBy(identity).map { case (sz, cs) => (sz, cs.size.toLong) }
    assert(rows.map(r => (r._1, r._2)).toMap === expected,
      "size histogram recounts the cluster frame")
    rows.foreach { case (size, nCl, nDocs, share) =>
      assert(size >= 1L)
      assert(nDocs === size * nCl, "n_docs identity")
      assert(share === nDocs.toDouble / total.toDouble, "exact share division")
    }
  }

  test("clustering coefficient: per-node triangles match a brute-force adjacency recompute") {
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val li = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, scala.collection.mutable.Set.empty) += v
      adj.getOrElseUpdate(v, scala.collection.mutable.Set.empty) += u
    }
    val triPer = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (u, v) =>
      // common neighbors ABOVE v close a triangle counted once per (u,v,w)
      adj(u).intersect(adj(v)).filter(w => w > v).foreach { w =>
        triPer(u) += 1; triPer(v) += 1; triPer(w) += 1
      }
    }
    val rows = Graph.clusteringCoefficient(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val expected = adj.filter(_._2.size >= 2)
    assert(rows.length === expected.size, "one row per deg>=2 node")
    rows.foreach { case (id, deg, nTri, cc, avg) =>
      assert(deg === adj(id).size.toLong, s"node $id degree")
      assert(nTri === triPer(id), s"node $id triangle count")
      val e = 2.0 * nTri / (deg.toDouble * (deg - 1))
      assert(cc === e, s"node $id local cc")
      assert(cc >= 0.0 && cc <= 1.0)
      assert(avg === rows.head._5, "average repeated")
    }
    def q12(d: Double) = BigDecimal(d.toString).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val mean = rows.map(r => q12(r._4)).sum.toDouble / rows.length
    assert(math.abs(rows.head._5 - mean) < 1e-9 * math.max(1e-9, mean),
      "average is the quantized-fold mean")
  }

  test("triangle census is paid once per session and shared by q166/q277") {
    // the round-16 memo: both consumers ride one per-node (id, deg, n_tri)
    // frame, so after running both, the census label shows exactly one more
    // miss than before and at least one hit — the wedge-closure join ran
    // once. Also reconciles the two consumers against each other: q166's
    // global triangle count must equal Σ n_tri/3 over q277's per-node rows
    // plus the deg<2 nodes the filter drops (which can hold no triangle).
    val sf = "/root/testdata/sf0.001"
    val m0 = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("triangle_census", 0L)
    val stats = Graph.triangleStats(spark, sf).head
    val cc = Graph.clusteringCoefficient(spark, sf).collect()
    val m1 = Memo.counterSnapshot(Memo.cacheMisses).getOrElse("triangle_census", 0L)
    val h1 = Memo.counterSnapshot(Memo.cacheHits).getOrElse("triangle_census", 0L)
    assert(m1 - m0 <= 1L, "census materialized at most once for both consumers")
    assert(h1 >= 1L, "the second consumer rode the memo")
    assert(stats.getAs[Long]("n_triangles") === cc.map(_.getAs[Long]("n_tri")).sum / 3,
      "global census = per-node counts / 3 (deg<2 nodes hold no triangle)")
  }
}
