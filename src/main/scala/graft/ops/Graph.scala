package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components — the cluster-assignment stage of the
  * near-dup pipeline: LSH candidate pairs ([[Dedup.lshCandidatePairs]]) are
  * edges, and every document must learn its duplicate family so exactly one
  * representative per family survives into the training set.
  *
  * Two algorithms, same contract (every vertex labelled with the minimum id
  * of its component):
  *
  *  - [[connectedComponents]] (default): alternating large-star/small-star
  *    rewiring (Kiveris et al., "Connected Components in MapReduce and
  *    Beyond", 2014). Each half-round re-points edges at the minimum of a
  *    node's neighborhood, which squashes chain diameter geometrically —
  *    a diameter-30 duplicate chain converges in ~4 rounds where plain
  *    label propagation needs ~18. Each half-round is one shuffle keyed by
  *    edge endpoint (a window min) plus an edge dedup; nothing quadratic,
  *    nothing driver-side except the fixpoint probe.
  *  - [[connectedComponentsPropagate]]: classic min-label propagation with
  *    pointer jumping — kept as the executable spec (rounds ≤ diameter;
  *    simpler to reason about) and cross-checked against the star variant
  *    in GraphSpec.
  *
  * Each round's frame is eagerly `localCheckpoint`ed: an iterative DataFrame
  * recurrence otherwise DOUBLES its logical plan every round and the
  * analyzer re-walks the exponentially-growing plan until it OOMs — caching
  * alone does not cut lineage. On a cluster where executor loss matters,
  * swap `localCheckpoint` for a reliable HDFS-backed `checkpoint` — same
  * loop.
  */
object Graph {

  /** Connected components of an undirected edge list via alternating
    * large-star/small-star. `edges` needs columns (src, dst); `vertices` one
    * column (id) — isolated vertices become singleton components. Returns
    * (id, component) where component = min id in the vertex's component.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    // Large-star: for every node u over the SYMMETRIC neighborhood, point
    // every strictly-larger neighbor v at m = min(Γ(u) ∪ {u}). Connectivity
    // is preserved (u—v is replaced by the path v—m—…, with m adjacent to u)
    // and edge endpoints only ever decrease.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("src").as("u"), col("dst").as("v"))
        .union(e.select(col("dst").as("u"), col("src").as("v")))
      val w = Window.partitionBy(col("u"))
      sym
        .withColumn("m", least(min(col("v")).over(w), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    // Small-star: orient every edge large→small, then point each node u and
    // all of its smaller neighbors at m = min of that oriented neighborhood.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
          greatest(col("src"), col("dst")).as("u"),
          least(col("src"), col("dst")).as("v"))
        .filter(col("u") =!= col("v"))
      val w = Window.partitionBy(col("u"))
      val withM = oriented.withColumn("m", least(min(col("v")).over(w), col("u")))
      withM.select(col("v").as("src"), col("m").as("dst"))
        .union(withM.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    var cur = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    var converged = cur.isEmpty // no edges → all singletons, skip the loop
    var round = 0
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(cur))
        .localCheckpoint(true) // eager: truncates lineage, one job per round
      // Fixpoint = the edge SET is unchanged (both sides are distinct by
      // construction, so count equality + empty difference is set equality).
      // The probe is exact — a checksum comparison would be cheaper but a
      // collision would silently mislabel a family, which is worse than the
      // extra narrow-edge shuffle.
      converged = next.count() == cur.count() &&
        next.except(cur).limit(1).count() == 0
      cur = next
      round += 1
    }
    // un-converged labels are silently WRONG (one family reported as several
    // clusters, each electing its own representative) — fail instead
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxRounds rounds; " +
          "raise maxRounds")
    // At the fixpoint every component is a star: each non-minimum member
    // appears exactly once as src, pointing at the component minimum.
    val stars = cur.select(col("src").as("id"), col("dst").as("comp"))
    vertices.select(col("id"))
      .join(stars, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("component"))
  }

  /** Classic min-label propagation with pointer jumping — the executable
    * spec for [[connectedComponents]]. Each round every vertex takes the
    * minimum label among itself and its neighbors (one equi-join on vertex
    * id + one partial-agged min) and then jumps through its label's label,
    * until a fixpoint. Rounds ≤ graph diameter, so adversarial chains pay
    * ~diameter/2 rounds — use the star variant for anything but tests.
    */
  def connectedComponentsPropagate(vertices: DataFrame, edges: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    // symmetric closure once; reused every round
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var labels = vertices.select(col("id"), col("id").as("component"))
      .localCheckpoint(true)
    var converged = false
    var round = 0
    // One min-label propagation step (plan only — nothing materialized).
    // Explicit aliases throughout: labels and sym share scan lineage
    // (vertices and edges usually derive from the same table), which
    // otherwise trips Spark's ambiguous-self-join detection.
    def propagate(cur: DataFrame): DataFrame = {
      val viaNeighbors = cur.as("l").join(sym.as("e"), col("l.id") === col("e.src"))
        .select(col("e.dst").as("id"), col("l.component").as("component"))
      cur.select(col("id"), col("component"))
        .union(viaNeighbors)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"))
    }
    // Pointer jump (path halving): component(id) ← component(component(id)).
    // A label always names a vertex of the same component, so the jump stays
    // within the component while compressing label chains. One self-join per
    // round; at most single-level (nested self-joins of one un-materialized
    // plan break attribute deduplication), so `prop` feeds both jump sides
    // directly.
    def jump(cur: DataFrame): DataFrame = {
      val lookup = cur.select(col("id").as("j_id"), col("component").as("j_comp"))
      cur.join(lookup, col("component") === col("j_id"))
        .select(col("id"), col("j_comp").as("component"))
    }
    while (!converged && round < maxRounds) {
      val next = jump(propagate(labels))
        .localCheckpoint(true) // eager: truncates lineage, one job per round
      // fixpoint probe every second round: a converged graph just recomputes
      // identical labels on the extra round, which is cheaper than probing
      // every time
      val probe = round % 2 == 1 || round >= maxRounds - 2
      val changed =
        if (!probe) 1L
        else next.as("n").join(labels.as("p"), col("n.id") === col("p.id"))
          .filter(col("n.component") =!= col("p.component"))
          .limit(1).count()
      labels = next
      converged = changed == 0
      round += 1
    }
    sym.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxRounds rounds; " +
          "the graph has a deeper chain structure than expected — raise maxRounds")
    labels
  }

  /** Duplicate families over the VERIFIED near-dup graph: (doc_id,
    * cluster_id, cluster representative flag). Every document appears;
    * documents with no verified near-dup form singleton clusters.
    *
    * Edges are [[Dedup.ngramJaccard]]'s verified pairs (exact Jaccard ≥ 0.5),
    * not the raw LSH candidates: candidates are recall-oriented noise — at
    * sf0.1 they chain 93% of the corpus into one giant component — while
    * verified edges yield actual duplicate families. Feeding the verify
    * stage's output in also means clustering cost tracks true duplication,
    * not banding collisions.
    */
  def dupClusters(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.cached(clusterCache, "clusters", spark, sfDir) {
      val docs = graft.core.Tables.documents(spark, sfDir).select(col("doc_id").as("id"))
      val edges = Dedup.ngramJaccard(spark, sfDir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      connectedComponents(docs, edges)
        .select(col("id").as("doc_id"), col("component").as("cluster_id"),
          (col("id") === col("component")).as("is_representative"))
    }

  /** Label table memo (see [[Dedup.ngramJaccard]]'s materialize-once note):
    * clustering is iterative — by far the priciest consumer of the edge
    * table — and both the manifest and representative-selection queries need
    * its labels, so the (doc_id, cluster_id) table is checkpointed once per
    * (session, scale factor). Two longs + a bool per document.
    */
  private val clusterCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Canonical undirected part co-purchase edge list (u < v, distinct) —
    * parts are linked when they appear in the same order. MEMOIZED once per
    * (session, scale factor) through the same registry as the dedup chain:
    * SIX graph queries (pageRank, triangleStats, kCore, labelPropagation,
    * degreeAssortativity, bfsHops) consume exactly this frame, and each was
    * paying the lineitem self-join + distinct (the expensive edge build)
    * privately. At 100 TB the edge table is written to storage once and
    * shared; the in-JVM analogue is one eager localCheckpoint. Two longs per
    * edge, so holding it is cheap; the bench's cache_paid/cache_hit lists
    * attribute which query materialized it in any given run order.
    */
  private val edgeCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[graft] def coPurchaseEdges(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.cached(edgeCache, "copurchase_edges", spark, sfDir) {
      val li = graft.core.Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
        .distinct()
    }

  /** Both orientations of [[coPurchaseEdges]] — a union of two projections
    * of the checkpointed frame (no shuffle, no recomputation of the edge
    * build), so it needs no materialization of its own.
    */
  private[graft] def coPurchaseSym(spark: SparkSession, sfDir: String): DataFrame = {
    val und = coPurchaseEdges(spark, sfDir)
    und.unionByName(und.select(col("v").as("u"), col("u").as("v")))
  }

  /** HITS (Kleinberg 1999, public) over the BIPARTITE customer→part purchase
    * graph — buyers as hubs, products as authorities, the natural bipartite
    * reading of the algorithm:
    *
    *   auth₀(p) = 1/|P|
    *   hubᵢ(c)  = Σ_{c→p} authᵢ₋₁(p),  sum-normalized
    *   authᵢ(p) = Σ_{c→p} hubᵢ(c),     sum-normalized
    *
    * ONE documented deviation from the textbook: normalization divides by
    * the SUM of scores, not the L2 norm — scores stay a probability-style
    * distribution and, unlike sqrt-of-sum-of-squares, every step is either
    * an exact decimal fold or a single correctly-rounded IEEE division, so
    * the whole iteration is cross-engine bit-exact under the same bridging
    * discipline as [[pageRank]] (contributions rounded to DECIMAL(28,18),
    * summed exactly, bridged back to double; normalization totals ride a
    * broadcast one-row frame, nothing driver-side).
    *
    * Scale shape: the edge list is one orderkey-co-keyed join + distinct,
    * built once and cached; each half-iteration is a join against a
    * |nodes|-row score frame plus one partial-aggregated groupBy — the same
    * O(iters × |E|) dataflow as PageRank.
    */
  def hits(spark: SparkSession, sfDir: String, iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def decSum(c: org.apache.spark.sql.Column) =
      graft.core.Num.decToDouble(sum(c.cast(DecimalType(28, 18))))
    val edges = graft.core.Tables.orders(spark, sfDir)
      .join(graft.core.Tables.lineitem(spark, sfDir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE distinct pass over the part side (r20): nParts and the uniform
    // init both read the same materialized distinct frame instead of each
    // recomputing the 600k-row distinct over the edge table (measured ~1 s
    // of the query was the doubled pass); the normalization total still
    // rides a broadcast one-row frame, nothing driver-side
    val parts = edges.select(col("p")).distinct().localCheckpoint(true)
    val nParts = parts.agg(count(lit(1)).as("np"))
    var auth = parts
      .crossJoin(broadcast(nParts))
      .select(col("p"), (lit(1.0) / col("np")).as("a"))
    var hub: DataFrame = null
    for (_ <- 1 to iters) {
      // checkpoint the RAW aggregate (the expensive edges-join pass), not the
      // normalized view: the total and the normalized scores both read the
      // materialized frame, so each half-step executes the |E|-sized join
      // ONCE (checkpointing after normalization ran it twice — once for the
      // broadcast total, once for the checkpoint). The normalized frames
      // stay lazy narrow projections; lineage is still cut every half-step.
      val hubRaw = edges.join(auth, "p")
        .groupBy(col("c")).agg(decSum(col("a")).as("h"))
        .localCheckpoint(true)
      val hTot = hubRaw.agg(decSum(col("h")).as("t"))
      hub = hubRaw.crossJoin(broadcast(hTot))
        .select(col("c"), (col("h") / col("t")).as("h"))
      val authRaw = edges.join(hub, "c")
        .groupBy(col("p")).agg(decSum(col("h")).as("a"))
        .localCheckpoint(true)
      val aTot = authRaw.agg(decSum(col("a")).as("t"))
      auth = authRaw.crossJoin(broadcast(aTot))
        .select(col("p"), (col("a") / col("t")).as("a"))
    }
    val result = hub
      .select(lit("hub").as("kind"), col("c").as("id"), col("h").as("score"))
      .unionByName(auth
        .select(lit("auth").as("kind"), col("p").as("id"), col("a").as("score")))
      .localCheckpoint(true)
    edges.unpersist()
    result
  }

  /** PageRank over the part co-purchase graph (parts are linked when they
    * appear in the same order), a fixed number of synchronous iterations:
    *
    *   r₀(v)   = 1/N
    *   rᵢ₊₁(v) = (1−d)/N + d · Σ_{u→v} rᵢ(u)/outdeg(u)
    *
    * Cross-engine determinism: each edge's contribution rᵢ(u)/outdeg(u) is
    * one IEEE division; the per-destination Σ rounds every contribution to
    * DECIMAL(28,18) (deterministic) and sums exactly (order-independent),
    * crossing back to double through [[graft.core.Num.decToDouble]]. A raw
    * double Σ would depend on shuffle merge order — the same trap as money
    * sums, one layer up the algorithm.
    *
    * Scale shape: the edge list rides the memoized [[coPurchaseEdges]]
    * frame (built once per session+SF) with its out-degrees; each iteration is
    * one broadcast-or-shuffle join ranks⋈edges plus one partial-aggregated
    * groupBy(dst) — the textbook O(iters × |E|) dataflow with nothing
    * driver-side. The co-purchase graph has no dangling nodes by
    * construction (edges are symmetric), so no dangling-mass correction
    * term is needed.
    */
  def pageRank(spark: SparkSession, sfDir: String, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // both orientations of the memoized canonical edge list — the same set
    // as the ordered-pair self-join (src ≠ dst sharing an order, distinct)
    val edges = coPurchaseSym(spark, sfDir)
      .select(col("u").as("src"), col("v").as("dst"))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // N as a broadcast one-row frame: nothing collects to the driver
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = nodes.crossJoin(broadcast(n))
      .select(col("id"), (lit(1.0) / col("n_nodes")).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = edges.join(ranks, edges("src") === ranks("id"))
        .join(outdeg, "src")
        .select(col("dst"), (col("rank") / col("deg")).as("contrib"))
      val summed = contribs
        .groupBy(col("dst"))
        .agg(graft.core.Num.decToDouble(
          sum(col("contrib").cast(DecimalType(28, 18)))).as("inbound"))
      ranks = nodes.join(summed, nodes("id") === summed("dst"), "left")
        .crossJoin(broadcast(n))
        .select(col("id"),
          (lit(1.0 - damping) / col("n_nodes") +
            lit(damping) * coalesce(col("inbound"), lit(0.0))).as("rank"))
        .localCheckpoint(true) // cut the per-iteration lineage growth
    }
    // materialize the |V|-row result, then release the cached edge frames —
    // a lazily-returned plan would pin the |E|-sized cache for the JVM's life
    val result = ranks.join(outdeg, ranks("id") === outdeg("src"))
      .select(col("id").as("part_id"), col("rank"), col("deg").as("out_degree"))
      .localCheckpoint(true)
    outdeg.unpersist(); nodes.unpersist()
    result
  }

  /** Triangle census of the part co-purchase graph ([[pageRank]]'s edges,
    * undirected): nodes, edges, open wedges (Σ deg·(deg−1)/2, exact
    * integers) and closed triangles — the global clustering profile.
    *
    * The triangle join uses DEGREE ORIENTATION (compact-forward): every
    * undirected edge is directed from its lower-(degree, id) endpoint, so
    * each triangle is counted exactly once at its lowest-degree corner and
    * every oriented out-degree is O(√m)-bounded — the candidate-wedge set is
    * O(m^1.5) worst case instead of Σ deg² on the raw adjacency, which is
    * the difference between a skew-killed shuffle and a bounded one when a
    * hub part appears in millions of baskets. Both wedge-build and closure
    * are plain equi-joins on the oriented edge table (the orientation makes
    * the third edge's direction computable from the wedge, so no OR-join).
    * The count is orientation-invariant, which is what lets the DuckDB
    * oracle use naive id-ordering while the engine uses degree-ordering.
    */
  def triangleStats(spark: SparkSession, sfDir: String): DataFrame = {
    // a four-value aggregate of the memoized per-node census: each edge
    // contributes 2 to Σdeg and each triangle is counted at its 3 corners,
    // so n_edges = Σdeg div 2 and n_triangles = Σn_tri div 3 — integer `div`
    // keeps both exact past the 2^53 double bound a `/`-then-cast would hit
    // on a 100 TB graph. n_wedges keeps its original spelling (same value).
    nodeTriangleCounts(spark, sfDir).agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(deg) div 2").as("n_edges"),
      sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"),
      expr("sum(n_tri) div 3").as("n_triangles"))
  }

  /** Per-node triangle participation of the co-purchase graph — (id, deg,
    * n_tri) for every node of [[coPurchaseEdges]] — MEMOIZED once per
    * (session, scale factor) through the same registry as the edge frame:
    * the degree-oriented wedge-closure join is the priciest shared
    * computation left in the graph tier, and q166's global census and
    * q277's local coefficients each paid it privately (~8 s apiece at
    * sf0.1) even though both already rode the memoized edge table. This
    * frame is their common factor: the global census is a four-value
    * aggregate of it and the local coefficients are a projection of it.
    * Three longs per node, so holding it costs what the edge frame does;
    * the bench's cache_paid/cache_hit lists attribute which query
    * materialized it in any given run order. The closure broadcast is
    * runtime-gated exactly as [[triangleCensus]] (10M oriented edges ≈
    * 160 MB of two longs), falling back to the shuffle equi-join when the
    * graph outgrows the budget. `deg` is deliberately NOT persisted: it is
    * one cheap groupBy over the checkpointed edge frame, paid once while
    * `oriented` materializes and once in the final left join — cheaper than
    * carrying persist/unpersist lifecycle across the memo boundary.
    */
  private val censusCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[graft] def nodeTriangleCounts(spark: SparkSession, sfDir: String): DataFrame =
    // no broadcast-limit parameter: the memo key is only (session, sfDir),
    // so a per-call plan knob would silently not apply after the first call
    // (or pollute the memo for later callers) — the shared default is the
    // only honest option here; triangleCensus keeps the explicit knob for
    // the fallback-equivalence spec
    Dedup.cached(censusCache, "triangle_census", spark, sfDir) {
      val und = coPurchaseEdges(spark, sfDir)
      val deg = und.select(col("u").as("id")).union(und.select(col("v").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val oriented = degreeOriented(und, deg)
      val closure = oriented.select(col("src"), col("dst"))
      val closureSide =
        if (oriented.count() <= DefaultBroadcastEdgeLimit) broadcast(closure)
        else closure
      val triPer = orientedWedges(oriented).join(closureSide,
          col("x") === col("src") && col("y") === col("dst"))
        .select(explode(array(col("p"), col("x"), col("y"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
      deg.join(triPer, Seq("id"), "left")
        .select(col("id"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"))
    }

  private[graft] val DefaultBroadcastEdgeLimit: Long = 10000000L

  /** Degree-oriented edge list — src→dst iff (deg, id) is smaller at src,
    * carrying the head's degree for the wedge order. This tie-break is the
    * subtle core both census forms depend on (each triangle counted exactly
    * once at its lowest corner, oriented out-degree O(√m)-bounded), so it
    * lives in ONE place; checkpointed because every consumer self-joins it
    * and probes its count for the broadcast gate.
    */
  private def degreeOriented(und: DataFrame, deg: DataFrame): DataFrame =
    und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"),
        greatest(col("du"), col("dv")).as("ddst"))
      // NOT pre-partitioned by the wedge key (r19, measured): checkpointing
      // behind a repartition(parallelism, src) — so the wedge self-join could
      // reuse the stored HashPartitioning — read 10.6–11.0 s as census payer
      // vs 9.0 s for this spelling under the same ambient load; the extra
      // full exchange of the oriented frame costs more than the join's own
      // AQE-sized exchange saves. Tried and reverted.
      .localCheckpoint(true)

  /** Candidate wedges at each pivot, ordered by the orientation's own total
    * order so the closing edge is oriented exactly (x → y) — shared by the
    * global census (which ignores the pivot) and the per-node counts.
    */
  private def orientedWedges(oriented: DataFrame): DataFrame =
    oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddst") < col("e2.ddst") ||
            (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("p"), col("e1.dst").as("x"), col("e2.dst").as("y"))

  /** DUP-CLUSTER SIZE HISTOGRAM — the duplication-depth census over q55's
    * connected components: how many clusters of each size, how many
    * documents they hold, and each size's share of the corpus (one exact
    * division per row). Size 1 = unique documents, so the histogram reads
    * directly as "what fraction of the corpus is duplicated how deep" —
    * the number a dedup budget is sized from. Rides the session-memoized
    * cluster frame; everything here is |distinct sizes| rows.
    */
  def clusterSizeHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val sizes = dupClusters(spark, sfDir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    val tot = hist.agg(sum(col("n_docs")).as("n_total"))
    hist.crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_total").cast("double"))
          .as("doc_share"))
  }

  /** PER-NODE CLUSTERING COEFFICIENT of the co-purchase graph — the local
    * companion of q166's global census: Cᵤ = 2·tᵤ/(degᵤ·(degᵤ−1)) over
    * nodes with deg ≥ 2, where tᵤ counts triangles AT u. Triangles come
    * from the SAME degree-oriented wedge-closure as [[triangleStats]]
    * (each triangle found once, O(m^1.5) candidate wedges — the
    * skew-robust shape), but the matched rows keep their three corners and
    * explode into per-node counts; nodes in no triangle enter via a LEFT
    * join with a zero count (the q273 saturation lesson, at graph tier).
    * The deg ≥ 2 filter makes the divisor provably nonzero (ANSI throws on
    * zero divides — §8.4). The mean Cᵤ folds 12-decimal-quantized and
    * rides along every row (the q243 repeated-total convention). Edges and
    * the pivot/closure frames ride the session-memoized
    * [[coPurchaseEdges]] like the rest of the graph tier.
    */
  def clusteringCoefficient(spark: SparkSession, sfDir: String): DataFrame = {
    // a projection of the memoized per-node census (the wedge-closure join
    // is paid once per session by whichever of q166/q277 runs first); the
    // deg ≥ 2 filter and zero-coalesce contract are unchanged — the memo
    // carries every node with n_tri already coalesced to 0
    val nodes = nodeTriangleCounts(spark, sfDir)
      .filter(col("deg") >= 2)
      .withColumn("local_cc",
        (lit(2L) * col("n_tri")).cast("double") /
          (col("deg") * (col("deg") - 1L)).cast("double"))
    def q12(c: org.apache.spark.sql.Column) =
      c.cast("string").cast(org.apache.spark.sql.types.DecimalType(28, 12))
    val avg = nodes.agg(
      (graft.core.Num.decToDouble(sum(q12(col("local_cc")))) /
        count(lit(1)).cast("double")).as("avg_cc"))
    nodes.crossJoin(broadcast(avg))
      .select(col("id"), col("deg"), col("n_tri"), col("local_cc"), col("avg_cc"))
  }

  /** K-CORE DECOMPOSITION (membership) of the part co-purchase graph:
    * iteratively peel nodes of induced degree < k; survivors form the
    * k-core — the standard density backbone (spam/community pre-filter) of
    * graph curation. The peel count is FIXED at `rounds` (each an induced-
    * subgraph degree recount over the previous survivor set) instead of a
    * data-dependent fixpoint: a converged graph makes later rounds no-ops,
    * so as long as `rounds` covers convergence the result IS the k-core,
    * and either way both engines compute the identical bounded recursion —
    * which is what lets the oracle unroll it (the same trade [[pageRank]]
    * and the BPE trainer make). Each round is two semi-joins (edge
    * endpoints against survivors) + one partial-agged degree count;
    * per-round frames localCheckpoint so lineage stays flat. Output:
    * surviving nodes with their final induced degree.
    */
  def kCore(spark: SparkSession, sfDir: String, k: Int = 80,
      rounds: Int = 8): DataFrame = {
    val und = coPurchaseEdges(spark, sfDir)
    def degrees(edges: DataFrame): DataFrame =
      edges.select(col("u").as("id")).union(edges.select(col("v").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    var edges = und
    var deg = degrees(edges).localCheckpoint(true)
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      val alive = deg.filter(col("deg") >= k).select(col("id"))
      val next = edges
        .join(alive.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
        .join(alive.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
        .localCheckpoint(true)
      // fixpoint early-exit (r20, the CC convergence trick): the survivor
      // filter is MONOTONE (next ⊆ edges), so equal counts ⇒ identical edge
      // set ⇒ this and every remaining round is the identity — the declared
      // after-`rounds` result is unchanged, the remaining rounds' two
      // checkpoint jobs + joins are skipped. The counts read freshly
      // materialized checkpoint blocks (near-free).
      if (next.count() == edges.count()) converged = true
      else {
        edges = next
        deg = degrees(edges).localCheckpoint(true)
      }
      round += 1
    }
    val result = deg.filter(col("deg") >= k)
      .select(col("id"), col("deg").as("core_deg"))
      .localCheckpoint(true)
    result
  }

  /** LABEL-PROPAGATION COMMUNITY DETECTION over the part co-purchase graph
    * (Raghavan et al. 2007, public), SYNCHRONOUS variant with a total
    * tie-break so it is deterministic and oracle-replayable: every node
    * starts labelled with its own id, and each round adopts the label most
    * frequent among its neighbors, ties to the SMALLEST label. A fixed
    * small round count is the production spelling (async LPA's convergence
    * is run-order-dependent — useless for a reproducible pipeline; 2-3
    * synchronous rounds already merge the dense co-purchase cliques).
    * Reported as the community-size census. Scale shape: each round is one
    * shuffle join of the |V|-row label frame against the symmetrized edge
    * list plus a (node, label) count and a PARTITIONED argmax window —
    * O(rounds × |E|) exactly like [[pageRank]]'s value iteration, with
    * localCheckpoints cutting the recurrence lineage. The oracle unrolls
    * the identical rounds as CTEs, so the frontier algebra is hash-gated
    * against the declarative spelling.
    */
  def labelPropagation(spark: SparkSession, sfDir: String, rounds: Int = 2): DataFrame = {
    val sym = coPurchaseSym(spark, sfDir)
    var labels = sym.select(col("u").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val counts = sym
        .join(labels.select(col("id").as("v"), col("lbl")), "v")
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
      labels = counts
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("u")).orderBy(col("c").desc, col("lbl"))))
        .filter(col("rn") === 1)
        .select(col("u").as("id"), col("lbl"))
        .localCheckpoint(true)
    }
    val census = labels.groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("n_members"))
      .localCheckpoint(true)
    census
  }

  /** DEGREE ASSORTATIVITY of the part co-purchase graph — the Pearson
    * correlation of endpoint degrees over all (symmetrized) edge instances
    * (Newman 2002, public): positive = hubs link hubs, negative = hub-leaf
    * mixing; THE one-number mixing diagnostic read before choosing skew
    * strategies for graph joins. The q143 regression recipe on integer
    * inputs: every sum is an EXACT integer fold (degrees and their products
    * are longs, totals ≤ 2^53 so the final double casts are exact), the
    * correlation is one fixed arithmetic tree of correctly-rounded ops —
    * no bridging needed anywhere. One degree join per endpoint, one
    * aggregate; nothing driver-side.
    */
  /** POWER-LAW TAIL FIT of the co-purchase degree distribution — the
    * continuous MLE α̂ = 1 + n·[Σ ln(dᵢ/x_min)]⁻¹ (Clauset, Shalizi &
    * Newman 2009, public) over nodes with degree ≥ x_min — the scale-
    * free-or-not diagnostic read before trusting mean-degree capacity
    * planning (α ≤ 3 means the variance diverges and hub-aware salting
    * is mandatory). Degrees are exact counts off the memoized edge frame;
    * each ln crosses the 12-decimal bridge and each term quantizes to 12
    * decimals before the exact fold (order-free); α is one bridged
    * division. Scale shape: the edge build is the shared one-time cost;
    * the fit is one |nodes|-row aggregate.
    */
  def degreePowerLaw(spark: SparkSession, sfDir: String, xMin: Long = 5L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def q12(c: org.apache.spark.sql.Column) =
      c.cast("string").cast(DecimalType(28, 12))
    def lnB(c: org.apache.spark.sql.Column) =
      graft.core.Num.decToDouble(log(c).cast(DecimalType(18, 12)))
    val und = coPurchaseEdges(spark, sfDir)
    val deg = und.select(col("u").as("id")).union(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val tail = deg.filter(col("deg") >= xMin)
    tail.agg(count(lit(1)).as("n_tail"), max(col("deg")).as("max_deg"),
        graft.core.Num.decToDouble(
          sum(q12(lnB(col("deg").cast("double") / lit(xMin.toDouble)))))
          .as("sum_ln"))
      .select(lit(xMin).as("x_min"), col("n_tail"), col("max_deg"),
        when(col("sum_ln") > 0.0,
          lit(1.0) + col("n_tail").cast("double") / col("sum_ln")).as("alpha"))
  }

  def degreeAssortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val und = coPurchaseEdges(spark, sfDir)
    val deg = und.select(col("u").as("id")).union(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // symmetrize so the correlation is orientation-invariant
    val sym = und.unionByName(und.select(col("v").as("u"), col("u").as("v")))
    val pairs = sym
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(col("du"), col("dv"))
    val s = pairs.agg(
      count(lit(1)).as("n"),
      sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
      sum(col("du") * col("du")).as("sxx"),
      sum(col("dv") * col("dv")).as("syy"),
      sum(col("du") * col("dv")).as("sxy"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val r = (nD * d("sxy") - d("sx") * d("sy")) /
      (sqrt(nD * d("sxx") - d("sx") * d("sx")) *
        sqrt(nD * d("syy") - d("sy") * d("sy")))
    val result = s.select(col("n").as("n_edge_ends"), r.as("assortativity"))
      .localCheckpoint(true)
    result
  }

  /** Multi-source BFS over the part co-purchase graph: exact hop distance
    * (≤ `maxHops`) from the seed set {parts with id ≡ 0 mod 500}, reported
    * as a per-hop census. The third member of the iterative-graph family
    * beside [[pageRank]] (value iteration) and [[connectedComponents]]
    * (label squashing): FRONTIER EXPANSION — each round joins only the
    * newly-reached frontier against the adjacency (not the whole visited
    * set), anti-joins out already-visited nodes, and localCheckpoints the
    * visited frame to cut the recurrence lineage. O(maxHops) shuffles, each
    * proportional to the frontier's edge neighborhood — the textbook
    * distributed BFS, nothing driver-side. The DuckDB oracle recomputes the
    * same distances with a recursive CTE (min hop per node), so the
    * frontier algebra is hash-gated against declarative reachability.
    */
  def bfsHops(spark: SparkSession, sfDir: String, maxHops: Int = 3): DataFrame = {
    // both orientations of the memoized canonical edge list — the same set
    // as the ordered-pair self-join (u ≠ v sharing an order, distinct)
    val adj = coPurchaseSym(spark, sfDir)
    val seeds = adj.select(col("u").as("id")).distinct()
      .filter(col("id") % 500 === 0)
      .withColumn("hop", lit(0L))
      .localCheckpoint(true)
    // each frontier is checkpointed ONCE; the visited set is a lazy union of
    // those materialized frontiers (re-materializing visited every round —
    // the naive loop — doubles the per-round work for no lineage benefit,
    // since every input is already an RDD scan)
    var frontiers = List(seeds)
    var frontier = seeds
    for (h <- 1 to maxHops) {
      val visited = frontiers.map(_.select(col("id"))).reduce(_ union _)
      frontier = frontier.join(adj, frontier("id") === adj("u"))
        .select(col("v").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .withColumn("hop", lit(h.toLong))
        .localCheckpoint(true)
      frontiers = frontiers :+ frontier
    }
    val result = frontiers.reduce(_ union _)
      .groupBy(col("hop")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    result
  }

  /** The census plan over a given undirected edge set + degree table —
    * separated so a plan audit can see the join shape (the public wrapper
    * materializes through localCheckpoint, whose executedPlan is a bare
    * scan — the q17 audit caveat). `broadcastEdgeLimit` gates the closure
    * broadcast at runtime (default 10M edges ≈ 160 MB of two longs): a
    * graph whose oriented edge table outgrows the budget falls back to the
    * plain shuffle equi-join AUTOMATICALLY instead of blowing Spark's
    * broadcast cap at runtime — the fallback is a config value, not a code
    * change. The count probe is free: the frame is already checkpointed.
    */
  private[graft] def triangleCensus(und: DataFrame, deg: DataFrame,
      broadcastEdgeLimit: Long = DefaultBroadcastEdgeLimit): DataFrame = {
    // the orientation and wedge construction are the shared
    // [[degreeOriented]]/[[orientedWedges]] helpers (one home for the
    // tie-break both census forms depend on). The closure side is BROADCAST
    // while it fits: the wedge set is O(m^1.5) rows (the big side by far)
    // and should never shuffle — with the edge table broadcast, wedges flow
    // scan→generate→probe→partial-count entirely in-pipeline, zero
    // exchanges of wedge rows. The edge table is 2 longs/edge; when m
    // outgrows broadcastEdgeLimit the hint is DROPPED at runtime and the
    // same equi-join shuffles wedges by (x, y) — correct either way, this
    // is purely the "don't move the big side" rule with the budget
    // enforced, not assumed.
    val oriented = degreeOriented(und, deg)
    val wedges = orientedWedges(oriented).select(col("x"), col("y"))
    val closure = oriented.select(col("src"), col("dst"))
    val closureSide =
      if (oriented.count() <= broadcastEdgeLimit) broadcast(closure) else closure
    val nTri = wedges.join(closureSide,
        col("x") === col("src") && col("y") === col("dst"))
      .agg(count(lit(1)).as("n_triangles"))
    val nWedges = deg.agg(
      sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    nWedges.crossJoin(broadcast(nEdges)).crossJoin(broadcast(nTri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"))
  }
}
