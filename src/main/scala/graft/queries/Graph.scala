package graft.queries

import graft.{QueryFamily, Tables}
import graft.operators.LoopState
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the relational tables (driver north star: the
  * query surface a training-data platform needs includes link-graph
  * signals — page quality via centrality, crawl-frontier ranking).
  *
  * Graph: the trade graph from the TPC-H-ish tables — an edge between a
  * supplier and a customer for every distinct (l_suppkey, o_custkey)
  * pair that traded, symmetrized (both directions) so every node has
  * in- and out-edges. Customer node ids are offset by 2^40 to keep the
  * two key spaces disjoint at ANY TPC-H scale factor (supplier keys
  * reach 10k·sf — a 1e6 offset would collide at sf≥100; 2^40 still
  * clears them by two orders of magnitude at sf=10⁶, with all sums
  * exact in BIGINT).
  *
  * Scale design (100 TB):
  *  - the edge list is built once (one join + distinct — two shuffles),
  *    then CACHED and re-partitioned by `src`: every PageRank iteration
  *    re-joins ranks against the SAME edge partitioning, so the edge
  *    side never re-shuffles across iterations — only the (node, rank)
  *    frame (2 longs/node) moves;
  *  - each iteration is join + partial-aggregated sum (map-side combine
  *    on dst before the shuffle) — the classic Pregel-as-dataflow shape;
  *  - `localCheckpoint` after each iteration truncates lineage, keeping
  *    plan size constant in the iteration count (same reasoning as
  *    [[graft.operators.Dedup.connectedComponents]]).
  *
  * Determinism (SURVEY §7.5): ranks are kept in micro-units (BIGINT,
  * 1e6 = rank 1.0) with floor division — every iteration is exact
  * integer arithmetic, so Spark and DuckDB agree bit-for-bit with no
  * float-summation-order or ln() library risk. The per-edge floor
  * `floor(pr_u / outdeg)` is safe in double: quotients are rationals
  * with denominator ≤ max-degree, so non-integer values sit ≥ 1/degree
  * from the nearest integer — far beyond double rounding error at this
  * magnitude. Dropped mass from flooring is the documented contract of
  * the micro-unit variant (both engines drop identically).
  */
object Graph extends QueryFamily {

  private val CustOffset = 1L << 40
  private val PrIters = 3
  private val LpaIters = 4
  private val HopRounds = 4
  // link-prediction intermediary hub cap: wedge work ≤ cap·m. 48 keeps
  // the cap branch LIVE at sf0.1 (max co-purchase degree 59 there) so
  // the oracle sweep exercises the exclusion path, not just GraphSpec.
  private val HubCap = 48L
  // a (src, dst) edge row of two longs, for LoopState.adaptiveParts
  private val EdgeBytesPerRow = 16L

  /** Distinct supplier↔customer trade pairs, symmetrized into a directed
    * edge list `(src, dst)`. One pass builds both directions (explode of
    * a 2-element array — the union-of-projections form would run the
    * upstream join twice; see Dedup.connectedComponents). */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").cast("long").as("s"),
        (col("o_custkey") + CustOffset).cast("long").as("c"))
      .distinct()
    pairs
      .select(explode(array(
        struct(col("s").as("src"), col("c").as("dst")),
        struct(col("c").as("src"), col("s").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** PageRank in exact micro-unit arithmetic: pr ← 0.15 + 0.85·Σ
    * contrib, as pr_u ← 150000 + (Σ floor(pr_u/outdeg))·17 div 20.
    * Every node appears as both src and dst (symmetrized edges), so
    * there are no dangling nodes; next-round membership is additionally
    * made STRUCTURAL by a zero-contribution union over the node set,
    * so teleport mass reaches in-degree-0 nodes on any edge list
    * (textbook semantics — GraphSpec pins an isolated seed).
    *
    * `personalized` makes it seeded PPR (the crawl-frontier /
    * graph-recommendation variant): the teleport mass lands ONLY on the
    * seed set (here every 10th supplier node — a deterministic
    * predicate both engines evaluate identically) and ranks start at 0
    * off-seed, so mass measures proximity to the seeds instead of
    * global centrality. Same loop, same exchanges, same micro-unit
    * exactness. */
  def pageRank(s: SparkSession, d: String, iters: Int = PrIters,
      personalized: Boolean = false): DataFrame = {
    // edges cached AND pre-partitioned on src: the per-iteration join
    // below reuses this exchange every round (only ranks re-shuffle)
    val edges = tradeEdges(s, d).repartition(col("src")).cache()
    val out = pageRankOn(edges, iters, personalized,
      col("node") < CustOffset && col("node") % 10 === 0)
    edges.unpersist()
    out
  }

  /** The iteration loop over an arbitrary edge list — factored so
    * GraphSpec can run it on a synthetic graph with an in-degree-0
    * seed (the teleport-coverage case the trade graph cannot exhibit:
    * symmetrized edges give every node in-edges). */
  private[queries] def pageRankOn(edges: DataFrame, iters: Int,
      personalized: Boolean, seed: Column): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .withColumnRenamed("src", "node")
      .cache()
    val init = if (personalized)
      when(seed, 1000000L).otherwise(0L) else lit(1000000L)
    val tele = if (personalized)
      when(seed, 150000L).otherwise(0L) else lit(150000L)
    // the rank frame CARRIES outdeg (one extra long per node), so the
    // per-round contribution is a pure projection — the previous shape
    // paid a node-sized ranks⋈deg hash join every round just to
    // re-attach a static column (optimization r18, guide §2.4: two
    // operations keyed the same way should not re-join per iteration).
    // outdeg rides through the aggregation on the teleport union row
    // (exactly one per node, so max() reproduces it exactly); the edge
    // side still contributes sum-only rows with a null outdeg.
    var ranks = deg.select(col("node"), init.as("pr_u"), col("outdeg"))
    var it = 0
    while (it < iters) {
      val perNode = ranks.select(col("node"),
        floor(col("pr_u") / col("outdeg")).as("contrib_u"))
      // teleport lands on EVERY node: a zero-contribution row per node
      // unions into the same aggregation, so a seed with no in-edges
      // keeps its teleport mass (textbook PPR) instead of silently
      // dropping out of next-round membership (VERDICT r13 #2) — one
      // node-sized append, no extra join, same single shuffle
      ranks = LoopState.checkpoint(edges
        .join(perNode.hint("shuffle_hash"), edges("src") === perNode("node"))
        .select(col("dst"), col("contrib_u"),
          lit(null).cast("long").as("outdeg"))
        .unionByName(deg.select(col("node").as("dst"),
          lit(0L).as("contrib_u"), col("outdeg")))
        .groupBy("dst")
        .agg(sum("contrib_u").as("mass_u"), max("outdeg").as("outdeg"))
        .select(col("dst").as("node"), col("mass_u"), col("outdeg"))
        .select(col("node"),
          (tele + floor(col("mass_u") * 17 / lit(20.0)).cast("long"))
            .as("pr_u"),
          col("outdeg")))
      it += 1
    }
    val out = ranks.select("node", "pr_u").orderBy("node")
    deg.unpersist()
    out
  }

  /** Degree distribution of the trade graph — the cheap structural
    * profile (one join + two partial-agg shuffles). */
  def degreeDistribution(s: SparkSession, d: String): DataFrame =
    tradeEdges(s, d)
      .groupBy("src").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")

  /** Triangle count on the co-purchase graph (parts appearing in the
    * same order — the market-basket projection of lineitem).
    *
    * Scale design: the naive wedge enumeration is Σ deg² — quadratic in
    * the hottest node's degree. The classic fix (Suri & Vassilvitskii
    * 2011, "Counting Triangles and the Curse of the Last Reducer") is
    * degree-ordered orientation: direct every undirected edge from its
    * lower-(degree, id) endpoint to the higher one, so every out-degree
    * is O(√m) and the wedge join is bounded by m^{3/2} TOTAL — skew
    * immune, no node ever owns more than √m out-edges. The triangle
    * total is orientation-independent (each triangle has exactly one
    * node with out-edges to the other two under ANY acyclic
    * orientation), which is what lets the simple p1<p2-oriented DuckDB
    * oracle pin the degree-oriented distributed plan exactly. The edge
    * list is localCheckpointed: it feeds the orientation join, the
    * closing-edge join, AND the edge count — three consumers, one
    * build. */
  def triangleCount(s: SparkSession, d: String,
      minQty: Double = 0.0): DataFrame = {
    // minQty dials the basket density: the declared query runs the
    // qty>30 projection (bench-sized; the full graph's wedge join is
    // ~9x the work for the same plan shape — GraphSpec pins the
    // unfiltered counts)
    val li = Tables.lineitem(s, d)
      .filter(col("l_quantity") > minQty)
      .select(col("l_orderkey"), col("l_partkey"))
    val e0 = li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").cast("long").as("p1"),
        col("b.l_partkey").cast("long").as("p2"))
      .distinct()
      .localCheckpoint()
    val deg = e0.select(col("p1").as("v"))
      .union(e0.select(col("p2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient low-(deg, id) → high-(deg, id); ties by id (p1 < p2 always)
    val eo = e0
      .join(deg.as("d1"), col("p1") === col("d1.v"))
      .join(deg.as("d2"), col("p2") === col("d2.v"))
      .select(
        when(col("d1.deg") <= col("d2.deg"), col("p1")).otherwise(col("p2"))
          .as("src"),
        when(col("d1.deg") <= col("d2.deg"), col("p2")).otherwise(col("p1"))
          .as("dst"))
      // checkpointed: the wedge self-join consumes eo on BOTH sides and
      // Catalyst does not reuse the orientation join's exchanges across
      // them — without this the edge⋈deg work runs twice
      .localCheckpoint()
    // wedges: ordered pairs of out-neighbors; closing edge looked up in
    // the CANONICAL (p1 < p2) edge list, which matches because the wedge
    // endpoints are emitted id-ordered
    val wedges = eo.as("x")
      .join(eo.as("y"), col("x.src") === col("y.src") &&
        col("x.dst") < col("y.dst"))
      .select(col("x.dst").as("q1"), col("y.dst").as("q2"))
    wedges.join(e0, col("q1") === col("p1") && col("q2") === col("p2"))
      .agg(count(lit(1)).as("n_triangles"))
      .crossJoin(e0.agg(count(lit(1)).as("n_edges")))
  }

  /** k-core of the trade graph: the maximal subgraph where every node
    * keeps ≥ k neighbors — the standard "dense backbone" extraction
    * (spam/bot rings, well-connected trader cores).
    *
    * Iterative peeling: drop all nodes with degree < k, recompute,
    * repeat to fixpoint. Each round is one partial-aggregated degree
    * count + two semi joins against the (node-sized) survivor list —
    * the corpus-scaled edge frame is filtered in place, never
    * re-keyed; `localCheckpoint` per round keeps the plan constant in
    * the peel depth (the [[pageRank]]/CC loop discipline), and the
    * round's `count()` doubles as the fixpoint test, so termination
    * costs no extra job. Peel depth is bounded by the degeneracy
    * ordering, not the node count — single digits on real graphs.
    * ORACLED despite the fixpoint loop (round 13): peeling is
    * IDEMPOTENT once converged — extra rounds change nothing — so a
    * bounded unrolled-CTE oracle (8 peel rounds, the q_pagerank
    * pattern) matches the fixpoint result exactly whenever the true
    * peel depth is ≤ 8. Measured depth on the trade graph is ≤ 2 at
    * every test SF (dense graphs peel shallow; GraphSpec pins
    * convergence within the margin), and the Spark side still
    * `require`s a real fixpoint, so a pathological deep-peel input
    * fails loudly rather than silently disagreeing with the oracle.
    * GraphSpec additionally pins the result against a single-threaded
    * reference peeler plus the nesting property core(k+1) ⊆ core(k). */
  def kCore(s: SparkSession, d: String, k: Int,
      maxIters: Int = 100): DataFrame = {
    // DELTA PEELING (optimization r19, guide §2 — replaces the rewrite-
    // the-edge-list loop): the k-core is removal-order independent, so
    // instead of re-filtering and re-counting the corpus-scaled edge
    // list every round (two edge-sized shuffle writes per round), keep
    // the per-node DEGREE frame and update it incrementally — a node
    // that survives loses exactly one degree per neighbor removed this
    // round. Per round: removed = survivors below k (node-sized);
    // their incident edges come from ONE read of the static edge
    // checkpoint via a BROADCAST semi-probe on dst (removed sets after
    // round 1 are tiny — the gate falls back to shuffle-hash above
    // Upsert.BroadcastKeyRows), and the per-src removal counts
    // partial-aggregate into a node-sized shuffle. The edge list is
    // never rewritten, re-partitioned, or re-counted: the measured r18
    // shape paid 50 MB of shuffle writes at sf0.1; this pays the
    // initial degree count plus node-sized rounds. Fixpoint = an empty
    // removal set. The result is the same unique k-core, node for node
    // and degree for degree (GraphSpec pins the single-threaded peeler;
    // the unrolled-CTE oracle pins the distributed run).
    val e0 = LoopState.checkpoint(tradeEdges(s, d))
    var deg = LoopState.checkpoint(
      e0.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg")))
    var done = false
    var it = 0
    while (!done && it < maxIters) {
      val removed = deg.filter(col("deg") < k).select(col("node"))
      val nRemoved = removed.count()
      if (nRemoved == 0) done = true
      else {
        val remSide =
          if (nRemoved <= graft.operators.Upsert.BroadcastKeyRows)
            broadcast(removed)
          else removed.hint("shuffle_hash")
        // degree deltas: one pass over the STATIC edge list — edges
        // whose dst fell this round decrement their src's degree.
        // Edges whose src fell too are dropped by the survivor join
        // below; cross-round double-removal is impossible (a removed
        // node leaves the degree frame for good).
        val delta = e0
          .join(remSide, e0("dst") === removed("node"), "left_semi")
          .groupBy("src").agg(count(lit(1)).as("__rm"))
        val survivors = deg.filter(col("deg") >= k)
        deg = LoopState.checkpoint(survivors
          .join(delta.hint("shuffle_hash"),
            survivors("node") === delta("src"), "left")
          .select(col("node"),
            (col("deg") - coalesce(col("__rm"), lit(0L))).as("deg")))
      }
      it += 1
    }
    require(done,
      s"k-core peel did not reach a fixpoint in $maxIters rounds — " +
        "raise maxIters (pathological chain graphs peel O(n) rounds)")
    deg.select(col("node"), col("deg").as("core_degree"))
      .orderBy("node")
  }

  /** Community detection by synchronous label propagation (Raghavan
    * et al. 2007), determinized: labels start as node ids; each round
    * every node adopts its neighbors' most frequent label, ties to the
    * SMALLEST label — so every round is a pure function of the
    * previous one (classic LPA's random tie-break and asynchronous
    * order would make the result run-dependent and un-oracle-able).
    * A FIXED round count (like [[pageRank]]'s unrolled iterations)
    * rather than a fixpoint: synchronous LPA can 2-cycle on bipartite
    * structure, so "converged" is not well-defined — after `iters`
    * rounds the assignment is deterministic either way and the
    * unrolled-CTE oracle adjudicates it exactly.
    *
    * Scale shape: per round, ONE edge-sized join (labels re-keyed onto
    * the cached src-partitioned edge list) and two partial-aggregated
    * shuffles — (node, label) counts, then the per-node argmax as a
    * single `max(struct(count, -label))` aggregate (no rank window:
    * the frame would be per-node neighbor-label lists, and a struct
    * max is map-side combinable). `localCheckpoint` per round keeps
    * the plan constant in the round count. */
  def labelPropagation(s: SparkSession, d: String,
      iters: Int = LpaIters): DataFrame =
    labelPropagationOn(tradeEdges(s, d), iters)

  /** [[labelPropagation]] on the co-purchase graph (parts sharing an
    * order, the q_triangles projection, symmetrized): unlike the dense
    * trade graph — which LPA collapses to 2 communities, the known
    * epidemic behavior on dense graphs — the order-clique structure
    * here yields real product communities, so the two configs together
    * show both regimes of the same oracled machinery. */
  def copurchaseCommunities(s: SparkSession, d: String,
      iters: Int = LpaIters): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_quantity") > 30.0)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").cast("long").as("p1"),
        col("b.l_partkey").cast("long").as("p2"))
      .distinct()
    val edges = pairs.select(explode(array(
        struct(col("p1").as("src"), col("p2").as("dst")),
        struct(col("p2").as("src"), col("p1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    labelPropagationOn(edges, iters)
  }

  /** The iteration loop over an arbitrary symmetrized edge list.
    *
    * HUB-KEY SKEW HARDENING (optimization r19, guide §2.5): the
    * per-round join keys on `dst`, so at 100 TB a power-law hub dst
    * owns an entire partition of the dst-partitioned edge cache AND of
    * every round's probe — AQE skew-split cannot help (one key is
    * indivisible). Gate: the node-degree profile (riding the SAME
    * aggregation that initializes the labels — symmetrized edges make
    * out-degree ≡ in-degree) flags dst keys whose degree exceeds
    * `hotDegFactor · m / shuffle.partitions` rows (a single key owning
    * several average partitions) AND the absolute `hotDegFloor` (so
    * toy graphs never trip it). When flagged, the edge list splits:
    * hot-dst edges cache partitioned on SRC (spreading each hub's
    * rows; src partitioning also pre-clusters the follow-up
    * (src, label) count) and join their per-round labels by BROADCAST
    * (the hot label rows are ≤ #hot ≤ partitions/factor rows by
    * construction); cold edges keep the r18 dst-partitioned
    * shuffle-hash plan. Same rows either way — GraphSpec pins the
    * split path against the plain one on a synthetic hub graph; the
    * declared queries stay below the gate, so their plans are
    * unchanged. */
  private[queries] def labelPropagationOn(edgeList: DataFrame,
      iters: Int, hotDegFactor: Long = 8L,
      hotDegFloor: Long = 4L << 20, maxHotKeys: Int = 1024): DataFrame = {
    val spark = edgeList.sparkSession
    // partitioned on DST — the per-round join key (labels attach to the
    // edge's dst): the r18 optimization audit found this cached on src,
    // which the loop never joins on, so the corpus-scaled edge list
    // re-shuffled EVERY round (measured: q_communities shuffle rows
    // 9.57M → 5.99M, 91.5 → 59.7 MB, 29 → 26 jobs from this one-word
    // fix)
    val edges = edgeList.repartition(col("dst")).cache()
    // node set + degree profile in ONE pass (same exchange the old
    // distinct paid; symmetrized ⇒ out-degree = in-degree per node)
    val nodes = LoopState.checkpoint(
      edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg")))
    val prof = nodes.agg(sum("deg").as("m"), max("deg").as("maxDeg"))
      .head()
    val m = prof.getLong(0)
    val maxDeg = prof.getLong(1)
    val parts = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    val hotCut = math.max(hotDegFloor, hotDegFactor * m / parts)
    // with each hub's degree: symmetrized, a hub's degree is the number
    // of edges whose dst it is, so the hot-edge rows are their sum
    val hot: Array[(Long, Long)] =
      if (maxDeg <= hotCut) Array.empty
      else {
        import spark.implicits._
        // ≤ m/hotCut ≤ parts/hotDegFactor keys by construction; the cap
        // only trims pathological floors (splitting fewer hubs is still
        // correct, just less even)
        nodes.filter(col("deg") > hotCut)
          .orderBy(col("deg").desc, col("node"))
          .limit(maxHotKeys).select("node", "deg").as[(Long, Long)].collect()
      }
    val hotKeys = hot.map(_._1)
    val (edgesCold, edgesHot) =
      if (hotKeys.isEmpty) (edges, None)
      else {
        val isHot = col("dst").isin(hotKeys.map(Long.box): _*)
        // cold: a filter over the dst-partitioned cache KEEPS the
        // partitioning (no exchange — and dropping the hub keys is
        // precisely what un-skews the retained layout); hot: re-keyed
        // on src, which spreads each hub's rows evenly AND pre-clusters
        // the (src, label) count that follows the broadcast join.
        // Materialize both (one pass over the parent cache), then drop
        // the parent so the loop holds one copy of the graph.
        val cold = edges.filter(!isHot).cache()
        // sized from the hot-edge rows, not the session constant: a
        // cache build bypasses AQE coalescing (LoopState.adaptiveParts)
        val hotParts = LoopState.adaptiveParts(spark, hot.map(_._2).sum,
          EdgeBytesPerRow)
        val hotEdges = edges.filter(isHot)
          .repartition(hotParts, col("src")).cache()
        cold.count(); hotEdges.count()
        edges.unpersist()
        (cold, Some(hotEdges))
      }
    var labels = nodes.select(col("node"), col("node").as("label"))
    var it = 0
    while (it < iters) {
      val cold = edgesCold
        .join(labels.hint("shuffle_hash"),
          edgesCold("dst") === labels("node"))
        .select(col("src"), col("label"))
      val contrib = edgesHot match {
        case None => cold
        case Some(hot) =>
          val hotLabels = labels
            .filter(col("node").isin(hotKeys.map(Long.box): _*))
          cold.unionByName(hot
            .join(broadcast(hotLabels), hot("dst") === hotLabels("node"))
            .select(col("src"), col("label")))
      }
      labels = LoopState.checkpoint(contrib
        .groupBy("src", "label").agg(count(lit(1)).as("c"))
        // argmax by (count desc, label asc): max struct wins on the
        // higher count, then the higher -label = the smaller label
        .groupBy("src")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).as("label")))
      it += 1
    }
    // labels is checkpointed (or a projection of the checkpointed node
    // frame when iters = 0), so the presentation sort never re-reads
    // the unpersisted caches
    val out = labels.orderBy("node")
    edges.unpersist()
    edgesHot.foreach(_.unpersist())
    if (!(edgesCold eq edges)) edgesCold.unpersist()
    out
  }

  /** BFS hop distance from the seed set (the crawl-depth / blast-radius
    * question: how many hops from the trusted seeds is each node?) —
    * bounded-hop frontier expansion, the missing reachability member of
    * the graph family beside centrality (PR/PPR), density
    * (triangles/k-core), and communities (LPA).
    *
    * Scale shape (the [[pageRankOn]] loop discipline): per round ONE
    * edge-sized join — the (node-sized) frontier re-keyed onto the
    * cached src-partitioned edge list — then a distinct and an
    * anti-join against the settled set, both node-sized shuffles.
    * Frontiers SHRINK as the reachable set saturates (empty rounds are
    * near-free), and the settled set is at most the node list — never
    * corpus-scaled. `localCheckpoint` per round keeps the plan constant
    * in the hop count. A FIXED round count like [[labelPropagation]]:
    * BFS layers are deterministic, nodes beyond `maxHops` are absent
    * (the bounded-reachability contract), and the unrolled-CTE oracle
    * adjudicates the layers exactly — all arithmetic is integer. */
  def hopDistance(s: SparkSession, d: String,
      maxHops: Int = HopRounds): DataFrame = {
    val edges = tradeEdges(s, d).repartition(col("src")).cache()
    val out = hopDistanceOn(edges, maxHops,
      col("node") < CustOffset && col("node") % 10 === 0)
    edges.unpersist()
    out
  }

  /** The frontier loop over an arbitrary edge list — factored so
    * GraphSpec can pin it against a single-threaded BFS on graphs with
    * known layer structure (chains, unreachable components). */
  private[queries] def hopDistanceOn(edges: DataFrame, maxHops: Int,
      seed: Column): DataFrame = {
    // the settled set is a LAZY union of per-round checkpointed layers
    // (the GraphAnn visited-set discipline, optimization r18): each
    // node's row materializes ONCE, in its layer's checkpoint — the
    // previous shape re-checkpointed the ENTIRE settled set every
    // round (O(V·rounds) materialized rows and one extra job per
    // round) just to feed the next anti-join, which reads the union
    // of cached layers equally well
    var layers = List(LoopState.checkpoint(
      edges.select(col("src").as("node")).distinct()
        .filter(seed)
        .select(col("node"), lit(0L).as("hops"))))
    var frontier = layers.head.select("node")
    var h = 1
    while (h <= maxHops) {
      val settled = layers.reduce(_ unionByName _)
      val next = LoopState.checkpoint(edges
        .join(frontier.hint("shuffle_hash"),
          edges("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(settled.hint("shuffle_hash"), Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("hops")))
      layers = next :: layers
      frontier = next.select("node")
      h += 1
    }
    layers.reduce(_ unionByName _).orderBy("node")
  }

  /** Exact integer modularity of the [[labelPropagation]] assignment —
    * the partition-quality number that turns the "dense trade graph
    * collapses to 2 communities" honesty note into a measurement. Per
    * community c over the symmetrized edge list E (|E| = 2·undirected
    * edges): Q_c = E_c/|E| − (d_c/|E|)², with E_c the intra-community
    * directed edge count and d_c the degree sum — the standard
    * Newman-Girvan modularity, whose total Σ Q_c ∈ [−½, 1).
    *
    * Determinism: all-integer — the per-community numerator
    * E_c·|E| − d_c² is exact BIGINT (|E|² < 2^63 up to ~3e9 directed
    * edges), and the micro-unit quotient shifts by +|E|² before the
    * truncating DIV so truncation ≡ floor on a non-negative operand
    * (Spark DIV truncates toward zero, DuckDB // floors — they agree
    * only on non-negatives, and Q_c is signed). DECIMAL(38,0) ↔
    * HUGEINT headroom for the ·1e6 (the q_drift_ks discipline).
    *
    * Scale shape: the LPA loop's own per-round cost — two node-sized
    * label joins re-keyed onto the edge list + partial-agg shuffles;
    * the community frame is |labels| rows, the totals row a 1-row
    * broadcast. */
  def communitiesQuality(s: SparkSession, d: String,
      iters: Int = LpaIters): DataFrame = {
    // checkpointed: the edge list feeds the LPA loop, the degree sum,
    // the intra join AND the total — one build, four consumers
    val edges = tradeEdges(s, d).localCheckpoint()
    val labels = labelPropagationOn(edges, iters).localCheckpoint()
    modularityOn(edges, labels)
  }

  /** The quality pass over an arbitrary symmetrized edge list and
    * (node, label) assignment — factored so GraphSpec can pin it
    * against a single-threaded reference and measure the dense-vs-
    * sparse regimes side by side. */
  private[queries] def modularityOn(edges: DataFrame,
      labels: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val degByLabel = deg
      .join(labels.hint("shuffle_hash"), deg("src") === labels("node"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("deg_sum"))
    val intra = edges
      .join(labels.select(col("node"), col("label").as("l_src"))
        .hint("shuffle_hash"), edges("src") === col("node"))
      .drop("node")
      .join(labels.select(col("node"), col("label").as("l_dst"))
        .hint("shuffle_hash"), edges("dst") === col("node"))
      .filter(col("l_src") === col("l_dst"))
      .groupBy(col("l_src").as("label"))
      .agg(count(lit(1)).as("in_edges"))
    val m2 = edges.agg(count(lit(1)).as("m2"))
    degByLabel.join(intra, Seq("label"), "left")
      .na.fill(0L, Seq("in_edges"))
      .crossJoin(broadcast(m2))
      .select(col("label"), col("n_nodes"), col("deg_sum"),
        col("in_edges"),
        expr("""CAST((CAST(in_edges AS DECIMAL(38,0)) * m2
                 - CAST(deg_sum AS DECIMAL(38,0)) * deg_sum
                 + CAST(m2 AS DECIMAL(38,0)) * m2) * 1000000
                DIV (CAST(m2 AS DECIMAL(38,0)) * m2) AS BIGINT)
                - 1000000""").as("mod_u"))
      .orderBy("label")
  }

  /** Weighted shortest path from the seed set — bounded-hop min-plus
    * relaxation (Bellman-Ford as dataflow), the WEIGHTED companion of
    * [[hopDistance]]: edge cost is integer micro-units
    * 1e6 DIV (1 + trade strength), where strength = the number of
    * distinct orders behind the supplier↔customer pair — stronger
    * trade relationships are cheaper to traverse, so the distance
    * ranks nodes by how strongly they are CONNECTED to the seeds, not
    * merely how few hops away. All-integer (costs and sums exact in
    * BIGINT), so the unrolled-CTE oracle adjudicates bit-for-bit.
    *
    * Scale shape: per round ONE edge-sized join (the node-sized
    * distance frame re-keyed onto the cached src-partitioned weighted
    * edge list) + a partial-aggregated min shuffle that the previous
    * distances union into (so settled nodes never regress and the
    * frame stays node-sized); localCheckpoint per round. Fixed
    * `maxHops` rounds — after k rounds the frame holds the exact
    * min-cost path using ≤ k edges (the Bellman-Ford invariant), the
    * bounded-reachability contract the oracle unrolls. */
  def shortestCost(s: SparkSession, d: String,
      maxHops: Int = HopRounds): DataFrame = {
    val edges = weightedTradeEdges(s, d).repartition(col("src")).cache()
    val out = shortestCostOn(edges, maxHops,
      col("node") < CustOffset && col("node") % 10 === 0)
    edges.unpersist()
    out
  }

  /** [[tradeEdges]] with the per-pair order count as trade strength,
    * symmetrized, cost_u = 1e6 DIV (1 + strength). */
  private def weightedTradeEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").cast("long").as("s"),
        (col("o_custkey") + CustOffset).cast("long").as("c"),
        col("o_orderkey"))
      .distinct()
      .groupBy("s", "c")
      .agg(count(lit(1)).as("strength"))
      .select(col("s"), col("c"),
        expr("CAST(1000000 DIV (1 + strength) AS BIGINT)").as("cost_u"))
    pairs.select(explode(array(
        struct(col("s").as("src"), col("c").as("dst"), col("cost_u")),
        struct(col("c").as("src"), col("s").as("dst"), col("cost_u"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.cost_u").as("cost_u"))
  }

  /** The relaxation loop over an arbitrary weighted edge list —
    * factored so GraphSpec can pin it against single-threaded
    * Bellman-Ford on graphs where the cheap path is NOT the short one. */
  private[queries] def shortestCostOn(edges: DataFrame, maxHops: Int,
      seed: Column): DataFrame = {
    // DELTA-FRONTIER RELAXATION (optimization r19, guide §2): only
    // nodes whose distance IMPROVED last round can improve a neighbor
    // this round (the Bellman-Ford frontier invariant — a node whose
    // dist is unchanged already propagated that value the round it
    // first appeared), so the edge-sized join keys on the shrinking
    // frontier instead of the whole distance frame. After k rounds the
    // frame still holds exactly the min cost over ≤ k-edge paths — the
    // same rows full relaxation produces, which is what the unrolled
    // oracle pins. The frontier costs no extra pass: the min-merge
    // aggregation carries the previous distance (min over the old-side
    // rows) beside the new minimum in one shuffle, and "improved" is a
    // filter over that checkpointed frame.
    var dist = LoopState.checkpoint(
      edges.select(col("src").as("node")).distinct()
        .filter(seed)
        .select(col("node"), lit(0L).as("dist_u")))
    var frontier = dist
    var h = 0
    while (h < maxHops) {
      val merged = LoopState.checkpoint(edges
        .join(frontier.hint("shuffle_hash"),
          edges("src") === frontier("node"))
        .select(col("dst").as("node"),
          (col("dist_u") + col("cost_u")).as("dist_u"),
          lit(true).as("__relaxed"))
        .unionByName(dist.select(col("node"), col("dist_u"),
          lit(false).as("__relaxed")))
        .groupBy("node")
        .agg(min("dist_u").as("dist_u"),
          min(when(!col("__relaxed"), col("dist_u"))).as("__old_u")))
      dist = merged.select(col("node"), col("dist_u"))
      // improved ⇔ new to the frame, or strictly below last round's
      // value (carried as __old_u; exactly one old row per node)
      frontier = merged
        .filter(col("__old_u").isNull || col("dist_u") < col("__old_u"))
        .select(col("node"), col("dist_u"))
      h += 1
    }
    dist.orderBy("node")
  }

  /** Connected components of the SPARSE co-purchase graph (parts
    * sharing an order at l_quantity > 45 — the qty>30 graph is one
    * giant component, which makes CC both boring and oracle-hostile:
    * the recursive reach CTE is Σ|component|² rows) — the declared
    * face of [[graft.operators.Dedup.connectedComponents]], the same
    * size-gated union-find ↔ pointer-jumping machinery every dedup
    * cascade rides, here adjudicated by a DuckDB recursive-CTE
    * fixpoint (the q_knn_clusters_full pattern). Output: (node, comp)
    * with comp = the component's minimum node id. */
  def components(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_quantity") > 45.0)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").cast("long").as("src"),
        col("b.l_partkey").cast("long").as("dst"))
      .distinct()
    // components(), not the raw loop: the size gate routes this
    // edge list to exact driver union-find — it is far below the
    // 2M-edge gate, and the gate IS the operator's contract. (This
    // query's sf0.1 oracle caught the old pointer-jumping loop
    // returning unconverged labels, which drove the r15 replacement
    // with alternating star contraction — see Dedup's scaladoc.)
    graft.operators.Dedup.components(pairs)
      .select(col("id").as("node"), col("comp"))
      .orderBy("node")
  }

  /** Link prediction on the co-purchase graph (the "customers who
    * bought X also bought Y — what's the next Y?" / dedup-candidate-
    * expansion question): score every NON-adjacent part pair by the
    * Resource-Allocation index (Zhou, Lü & Zhang 2009) — Σ over common
    * neighbors z of 1/deg(z) — plus the common-neighbor count and the
    * neighborhood Jaccard, all in exact integer micro-units
    * (Σ floor(1e6/deg(z)); cn·1e6 div (deg_u + deg_v − cn)), so the
    * DuckDB oracle adjudicates the ranking bit-for-bit — no float
    * summation order, no ln() (RA beats Adamic-Adar here precisely
    * because its weight is a RATIONAL in the degree, not 1/ln·deg).
    *
    * Scale shape: the wedge enumeration through common neighbor z is
    * inherently Σ deg(z)² — the curse-of-the-last-reducer join — so
    * intermediaries are HUB-CAPPED at deg(z) ≤ `cap`: the wedge join
    * is then bounded by cap·m TOTAL (linear in edges at fixed cap) and
    * no reducer ever owns more than cap² wedges per z. The cap is part
    * of the metric's definition on BOTH sides (engine and oracle filter
    * identically — RA-over-non-hub-intermediaries), standard practice
    * since a hub's per-wedge weight 1/deg(z) ≤ 1/cap is negligible
    * while its wedge count is the whole quadratic problem. Jaccard
    * denominators keep the FULL degrees (the cap bounds enumeration,
    * not the degree statistics). Top-k is TakeOrdered (no global sort);
    * the non-adjacency anti-join is edge-sized; the two degree joins
    * are node-sized. GraphSpec pins a single-threaded BigInt reference
    * on a synthetic graph whose hub EXCEEDS the cap. */
  def linkPrediction(s: SparkSession, d: String, cap: Long = HubCap,
      topK: Int = 100): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_quantity") > 30.0)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").cast("long").as("p1"),
        col("b.l_partkey").cast("long").as("p2"))
      .distinct()
      // checkpointed: feeds the symmetrized adjacency AND the
      // non-adjacency anti-join — one build, two consumers
      .localCheckpoint()
    linkPredictionOn(pairs, cap, topK)
  }

  /** The scoring pass over an arbitrary canonical (p1 < p2) undirected
    * edge list — factored for the GraphSpec reference pin. */
  private[queries] def linkPredictionOn(pairs: DataFrame, cap: Long,
      topK: Int): DataFrame = {
    val edges = pairs.select(explode(array(
        struct(col("p1").as("src"), col("p2").as("dst")),
        struct(col("p2").as("src"), col("p1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .localCheckpoint() // three consumers: adj filter + both jac joins
    val adj = edges
      .join(deg.hint("shuffle_hash"), edges("src") === deg("node"))
      .filter(col("deg") <= cap)
      .select(col("src").as("z"), col("dst").as("x"),
        col("deg").as("degz"))
      // checkpointed AND pre-partitioned on z: the wedge self-join
      // consumes adj on both sides — one exchange, reused twice
      .repartition(col("z")).localCheckpoint()
    val wedges = adj.as("a")
      .join(adj.as("b"), col("a.z") === col("b.z") &&
        col("a.x") < col("b.x"))
      .groupBy(col("a.x").as("u"), col("b.x").as("v"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 DIV a.degz")).as("ra_u"))
    val cand = wedges.join(pairs,
      col("u") === col("p1") && col("v") === col("p2"), "left_anti")
    // top-k FIRST (TakeOrdered — the ranking never reads the degrees:
    // it orders by (ra_u, cn, u, v), all wedge-aggregation columns, and
    // (u, v) is unique so the order is total), THEN attach degrees to
    // the k survivors only. The previous shape shuffled the ENTIRE
    // non-adjacent candidate-pair frame through two node-sized hash
    // joins just to compute jac_u for rows the limit was about to
    // discard (optimization r18, guide §3: reduce the big side before
    // joining — here to k rows, so the survivors broadcast and the
    // degree frame is probed without any pair-sized exchange).
    val top = cand
      .orderBy(col("ra_u").desc, col("cn").desc, col("u"), col("v"))
      .limit(topK)
    broadcast(broadcast(top)
      .join(deg.select(col("node"), col("deg").as("deg_u")),
        col("u") === col("node")).drop("node"))
      .join(deg.select(col("node"), col("deg").as("deg_v")),
        col("v") === col("node")).drop("node")
      .select(col("u"), col("v"), col("cn"), col("ra_u"),
        expr("CAST(cn * 1000000 DIV (deg_u + deg_v - cn) AS BIGINT)")
          .as("jac_u"))
      .orderBy(col("ra_u").desc, col("cn").desc, col("u"), col("v"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank" -> ((s, d) => pageRank(s, d)),
    "q_pagerank_personalized" ->
      ((s, d) => pageRank(s, d, personalized = true)),
    "q_graph_degree" -> ((s, d) => degreeDistribution(s, d)),
    "q_triangles" -> ((s, d) => triangleCount(s, d, minQty = 30.0)),
    // maxIters = 9, not the 100 default: the oracle unrolls 8 peel
    // rounds, and 8 changing rounds + 1 confirming = 9 iterations —
    // any graph the oracle CAN'T adjudicate now trips the fixpoint
    // require loudly instead of hash-mismatching downstream
    "q_kcore" -> ((s, d) => kCore(s, d, k = 10, maxIters = 9)),
    "q_communities" -> ((s, d) => labelPropagation(s, d)),
    "q_communities_copurchase" ->
      ((s, d) => copurchaseCommunities(s, d)),
    "q_graph_hops" -> ((s, d) => hopDistance(s, d)),
    "q_communities_quality" -> ((s, d) => communitiesQuality(s, d)),
    "q_graph_shortest_cost" -> ((s, d) => shortestCost(s, d)),
    "q_graph_components" -> ((s, d) => components(s, d)),
    "q_link_prediction" -> ((s, d) => linkPrediction(s, d))
  )

  /** The oracle unrolls the three iterations as CTEs it1..it3 — same
    * micro-unit integer arithmetic, so the match is exact, not
    * tolerance-based. */
  private val OracleEdges =
    s"""pairs AS (
      |  SELECT DISTINCT CAST(l.l_suppkey AS BIGINT) AS s,
      |         CAST(o.o_custkey + $CustOffset AS BIGINT) AS c
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |edges AS (SELECT s AS src, c AS dst FROM pairs
      |          UNION ALL
      |          SELECT c AS src, s AS dst FROM pairs),
      |deg AS (SELECT src AS node, count(*) AS outdeg
      |        FROM edges GROUP BY src)""".stripMargin

  private def prStep(prev: String, out: String,
      tele: String = "150000"): String =
    // the zero-contribution UNION ALL mirrors the Spark loop's
    // every-node teleport: a node with no in-mass this round still
    // aggregates (mass 0) and keeps its teleport share
    s"""$out AS (
       |  SELECT t.node,
       |    CAST(($tele) + floor(sum(t.contrib_u) * 17 / 20.0) AS BIGINT)
       |      AS pr_u
       |  FROM (
       |    SELECT e.dst AS node,
       |      CAST(floor(CAST(p.pr_u AS DOUBLE) / d.outdeg) AS BIGINT)
       |        AS contrib_u
       |    FROM edges e
       |    JOIN $prev p ON e.src = p.node
       |    JOIN deg d ON e.src = d.node
       |    UNION ALL
       |    SELECT node, CAST(0 AS BIGINT) FROM deg) t
       |  GROUP BY t.node)""".stripMargin

  /** seed predicate of the personalized/hop-distance variants, over a
    * column name — interpolates [[CustOffset]] so the Spark predicate
    * and the oracle share one constant (a drift would otherwise only
    * surface as an opaque verify hash mismatch). */
  private def seedPred(c: String): String =
    s"($c < $CustOffset AND $c % 10 = 0)"

  private def seedSql(c: String): String = s"CASE WHEN ${seedPred(c)}"

  /** One unrolled label-propagation round: every node adopts its
    * neighbors' most frequent label, ties to the smallest — the exact
    * mirror of [[labelPropagation]]'s struct-max argmax. MATERIALIZED:
    * the round chain is linear, but materializing keeps the planner
    * from re-inlining the windowed subquery per reference. */
  private def lpaStep(prev: String, out: String): String =
    s"""$out AS MATERIALIZED (
       |  SELECT node, label FROM (
       |    SELECT e.src AS node, p.label,
       |      row_number() OVER (PARTITION BY e.src
       |        ORDER BY count(*) DESC, p.label) AS rn
       |    FROM edges e JOIN $prev p ON e.dst = p.node
       |    GROUP BY e.src, p.label)
       |  WHERE rn = 1)""".stripMargin

  /** One unrolled k-core peel round: survivors of `prev` with degree
    * ≥ k keep their edges. Idempotent at the fixpoint, so 8 rounds
    * oracle the fixpoint loop exactly (measured depth ≤ 2). */
  private def peelStep(prev: String, out: String, k: Int): String =
    // MATERIALIZED is load-bearing: each round references the previous
    // CTE three times (degree + two IN probes) — inlined CTEs expand
    // the 8-round chain exponentially (3^8 scans of the base tables,
    // which exhausts file handles before it exhausts patience)
    s"""${out}k AS MATERIALIZED (SELECT src AS node FROM $prev
       |        GROUP BY src HAVING count(*) >= $k),
       |$out AS MATERIALIZED (SELECT e.src, e.dst FROM $prev e
       |      WHERE e.src IN (SELECT node FROM ${out}k)
       |        AND e.dst IN (SELECT node FROM ${out}k))""".stripMargin

  /** One unrolled BFS round: the new frontier is every dst reachable
    * from the previous frontier that is not already settled; settled
    * grows by the frontier at this round's hop count. MATERIALIZED for
    * the k-core reason — each round reads the previous CTEs twice. */
  private def hopStep(i: Int): String =
    s"""f$i AS MATERIALIZED (
       |  SELECT DISTINCT e.dst AS node
       |  FROM edges e JOIN f${i - 1} p ON e.src = p.node
       |  WHERE e.dst NOT IN (SELECT node FROM d${i - 1})),
       |d$i AS MATERIALIZED (
       |  SELECT node, hops FROM d${i - 1}
       |  UNION ALL
       |  SELECT node, CAST($i AS BIGINT) AS hops FROM f$i)""".stripMargin

  /** One unrolled min-plus relaxation round: candidate distances via
    * every in-edge, min-merged with the previous round (settled nodes
    * never regress). */
  private def costStep(i: Int): String =
    s"""d$i AS MATERIALIZED (
       |  SELECT node, CAST(min(dist_u) AS BIGINT) AS dist_u FROM (
       |    SELECT e.dst AS node, p.dist_u + e.cost_u AS dist_u
       |    FROM wedges e JOIN d${i - 1} p ON e.src = p.node
       |    UNION ALL
       |    SELECT node, dist_u FROM d${i - 1})
       |  GROUP BY node)""".stripMargin

  def oracle: Map[String, String] = Map(
    "q_pagerank" ->
      (s"""WITH $OracleEdges,
          |pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr_u FROM deg),
          |${prStep("pr0", "it1")},
          |${prStep("it1", "it2")},
          |${prStep("it2", "it3")}
          |SELECT node, pr_u FROM it3 ORDER BY node""".stripMargin),
    "q_pagerank_personalized" -> {
      val tele = s"${seedSql("t.node")} THEN 150000 ELSE 0 END"
      s"""WITH $OracleEdges,
         |pr0 AS (SELECT node,
         |  CAST(${seedSql("node")} THEN 1000000 ELSE 0 END AS BIGINT)
         |    AS pr_u FROM deg),
         |${prStep("pr0", "it1", tele)},
         |${prStep("it1", "it2", tele)},
         |${prStep("it2", "it3", tele)}
         |SELECT node, pr_u FROM it3 ORDER BY node""".stripMargin
    },
    "q_graph_degree" ->
      s"""WITH $OracleEdges
         |SELECT outdeg AS degree, count(*) AS n_nodes
         |FROM deg GROUP BY outdeg ORDER BY degree""".stripMargin,
    "q_kcore" ->
      (s"""WITH $OracleEdges,
          |e0 AS MATERIALIZED (SELECT src, dst FROM edges),
          |${(0 until 8).map(i => peelStep(s"e$i", s"e${i + 1}", 10))
            .mkString(",\n")}
          |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
          |FROM e8 GROUP BY src ORDER BY node""".stripMargin),
    "q_communities" ->
      (s"""WITH $OracleEdges,
          |l0 AS MATERIALIZED (SELECT node, node AS label FROM deg),
          |${(0 until LpaIters).map(i => lpaStep(s"l$i", s"l${i + 1}"))
            .mkString(",\n")}
          |SELECT node, label FROM l$LpaIters ORDER BY node""".stripMargin),
    "q_communities_copurchase" ->
      (s"""WITH pp AS (
          |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS p1,
          |                  CAST(b.l_partkey AS BIGINT) AS p2
          |  FROM (SELECT * FROM lineitem WHERE l_quantity > 30) a
          |  JOIN (SELECT * FROM lineitem WHERE l_quantity > 30) b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
          |edges AS MATERIALIZED (
          |  SELECT p1 AS src, p2 AS dst FROM pp
          |  UNION ALL
          |  SELECT p2 AS src, p1 AS dst FROM pp),
          |l0 AS MATERIALIZED (
          |  SELECT DISTINCT src AS node, src AS label FROM edges),
          |${(0 until LpaIters).map(i => lpaStep(s"l$i", s"l${i + 1}"))
            .mkString(",\n")}
          |SELECT node, label FROM l$LpaIters ORDER BY node""".stripMargin),
    "q_communities_quality" ->
      (s"""WITH $OracleEdges,
          |l0 AS MATERIALIZED (SELECT node, node AS label FROM deg),
          |${(0 until LpaIters).map(i => lpaStep(s"l$i", s"l${i + 1}"))
            .mkString(",\n")},
          |lab AS MATERIALIZED (SELECT node, label FROM l$LpaIters),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM edges),
          |degl AS (
          |  SELECT lab.label, count(*) AS n_nodes,
          |         CAST(sum(d.outdeg) AS BIGINT) AS deg_sum
          |  FROM deg d JOIN lab ON d.node = lab.node
          |  GROUP BY lab.label),
          |intra AS (
          |  SELECT ls.label, CAST(count(*) AS BIGINT) AS in_edges
          |  FROM edges e
          |  JOIN lab ls ON e.src = ls.node
          |  JOIN lab ld ON e.dst = ld.node
          |  WHERE ls.label = ld.label
          |  GROUP BY ls.label)
          |SELECT d.label, d.n_nodes, d.deg_sum,
          |  coalesce(i.in_edges, 0) AS in_edges,
          |  CAST((CAST(coalesce(i.in_edges, 0) AS HUGEINT) * m.m2
          |        - CAST(d.deg_sum AS HUGEINT) * d.deg_sum
          |        + CAST(m.m2 AS HUGEINT) * m.m2) * 1000000
          |       // (CAST(m.m2 AS HUGEINT) * m.m2) AS BIGINT)
          |    - 1000000 AS mod_u
          |FROM degl d LEFT JOIN intra i USING (label) CROSS JOIN m
          |ORDER BY label""".stripMargin),
    "q_graph_components" ->
      """WITH RECURSIVE pp AS (
        |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS p1,
        |                  CAST(b.l_partkey AS BIGINT) AS p2
        |  FROM (SELECT * FROM lineitem WHERE l_quantity > 45) a
        |  JOIN (SELECT * FROM lineitem WHERE l_quantity > 45) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |cedges AS MATERIALIZED (
        |  SELECT p1 AS src, p2 AS dst FROM pp
        |  UNION ALL
        |  SELECT p2 AS src, p1 AS dst FROM pp),
        |reach AS (
        |  SELECT src AS id, src AS r FROM cedges
        |  UNION
        |  SELECT e.src, reach.r FROM cedges e JOIN reach ON e.dst = reach.id),
        |lab AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
        |SELECT id AS node, CAST(comp AS BIGINT) AS comp
        |FROM lab ORDER BY node""".stripMargin,
    "q_graph_shortest_cost" ->
      (s"""WITH wpairs AS (
          |  SELECT s, c, CAST(1000000 // (1 + count(*)) AS BIGINT)
          |    AS cost_u
          |  FROM (
          |    SELECT DISTINCT CAST(l.l_suppkey AS BIGINT) AS s,
          |           CAST(o.o_custkey + $CustOffset AS BIGINT) AS c,
          |           l.l_orderkey AS ok
          |    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
          |  GROUP BY s, c),
          |wedges AS MATERIALIZED (
          |  SELECT s AS src, c AS dst, cost_u FROM wpairs
          |  UNION ALL
          |  SELECT c AS src, s AS dst, cost_u FROM wpairs),
          |d0 AS MATERIALIZED (
          |  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist_u
          |  FROM wedges WHERE ${seedPred("src")}),
          |${(1 to HopRounds).map(costStep).mkString(",\n")}
          |SELECT node, dist_u FROM d$HopRounds ORDER BY node""".stripMargin),
    "q_graph_hops" ->
      (s"""WITH $OracleEdges,
          |d0 AS MATERIALIZED (
          |  SELECT node, CAST(0 AS BIGINT) AS hops FROM deg
          |  WHERE ${seedPred("node")}),
          |f0 AS MATERIALIZED (SELECT node FROM d0),
          |${(1 to HopRounds).map(hopStep).mkString(",\n")}
          |SELECT node, hops FROM d$HopRounds ORDER BY node""".stripMargin),
    "q_link_prediction" ->
      (s"""WITH pp AS MATERIALIZED (
          |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS p1,
          |                  CAST(b.l_partkey AS BIGINT) AS p2
          |  FROM (SELECT * FROM lineitem WHERE l_quantity > 30) a
          |  JOIN (SELECT * FROM lineitem WHERE l_quantity > 30) b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
          |edges AS (SELECT p1 AS src, p2 AS dst FROM pp
          |          UNION ALL SELECT p2, p1 FROM pp),
          |deg AS MATERIALIZED (
          |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
          |  FROM edges GROUP BY src),
          |adj AS MATERIALIZED (
          |  SELECT e.src AS z, e.dst AS x, d.deg AS degz
          |  FROM edges e JOIN deg d ON e.src = d.node
          |  WHERE d.deg <= $HubCap),
          |wedge AS (
          |  SELECT a.x AS u, b.x AS v, CAST(count(*) AS BIGINT) AS cn,
          |         CAST(sum(1000000 // a.degz) AS BIGINT) AS ra_u
          |  FROM adj a JOIN adj b ON a.z = b.z AND a.x < b.x
          |  GROUP BY a.x, b.x),
          |cand AS (
          |  SELECT w.* FROM wedge w
          |  ANTI JOIN pp ON w.u = pp.p1 AND w.v = pp.p2)
          |SELECT c.u, c.v, c.cn, c.ra_u,
          |  CAST(c.cn * 1000000 // (du.deg + dv.deg - c.cn) AS BIGINT)
          |    AS jac_u
          |FROM cand c JOIN deg du ON c.u = du.node
          |            JOIN deg dv ON c.v = dv.node
          |ORDER BY c.ra_u DESC, c.cn DESC, c.u, c.v
          |LIMIT 100""".stripMargin),
    "q_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS p1,
        |                  CAST(b.l_partkey AS BIGINT) AS p2
        |  FROM (SELECT * FROM lineitem WHERE l_quantity > 30) a
        |  JOIN (SELECT * FROM lineitem WHERE l_quantity > 30) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        |SELECT
        |  (SELECT count(*) FROM e e1
        |     JOIN e e2 ON e1.p2 = e2.p1
        |     JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2) AS n_triangles,
        |  (SELECT count(*) FROM e) AS n_edges""".stripMargin
  )
}
