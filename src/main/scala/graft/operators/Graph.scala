package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** Iterative graph ranking over a relation-derived edge set — the
  * domain/source ranking signal a crawl-curation stack keeps next to its
  * per-document scores (Common Crawl publishes exactly this: a
  * PageRank/harmonic-centrality ranking over the host graph that
  * curation mixes use to weight sources; beyond the reference's own
  * operator surface, like the rest of the pipeline family).
  *
  * The graph here is the nation-level trade graph the TPC-H-ish tables
  * imply: an edge customer-nation → supplier-nation for every distinct
  * trading pair observed in lineitem ⋈ orders ⋈ customer ⋈ supplier.
  *
  * Determinism contract — EXACT INTEGER PageRank: ranks are scaled by
  * 10¹² and every step is integer arithmetic (`div` floor division,
  * 64-bit sums), so a fixed iteration count yields bit-identical ranks
  * in any engine — no float accumulation order to pin. The DuckDB
  * oracle unrolls the same iterations as chained CTEs (recursive CTEs
  * forbid aggregation over the recursive term, and an unrolled chain is
  * deterministic by construction). Dangling mass (nations with no
  * out-edges) is dropped — the standard simplification; documented, and
  * identical in both engines.
  *
  * Scale shape: the edge list is built by the fact-table joins
  * (lineitem⋈orders co-partitioned on orderkey, then the customer /
  * supplier dimension joins) and collapsed to DISTINCT (src, dst) —
  * vertex²-bounded, checkpointed once. Each iteration is one join of
  * the rank frame (|V| rows) into the checkpointed edge frame + one
  * partial-agg shuffle on dst. With |V| ≪ |E| the rank side
  * broadcasts (hinted); at web scale the same loop
  * co-partitions edges by src once and shuffles only the |V|-sized
  * rank frame per iteration — never the edge list. Lineage is cut per
  * iteration with a localCheckpoint of the |V|-row rank frame (the
  * dedup_clusters pointer-jumping pattern).
  */
object Graph {

  val Scale = 1000000000000L // 10^12: integer rank scale
  val DampingNum = 85L       // damping 0.85 as the exact fraction 85/100
  val Iters = 10

  /** Distinct customer-nation → supplier-nation trade edges. */
  def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .distinct()
  }

  /** PageRank after `iters` exact-integer iterations:
    * (nation, rank_scaled, rank) — rank = rank_scaled / 10¹².
    */
  def pagerank(s: SparkSession, dir: String, iters: Int = Iters): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val edges = tradeEdges(s, dir)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // (src, dst, outdeg): every iteration is its own query and reads
    // it. Measured (optimization r18): an eager checkpoint of e ran
    // FLAT on time with ~1.5x the stage-jobs (56 -> 82) — at
    // dimension-bounded V the iteration cost is broadcast/scheduler
    // latency; a dst-co-partitioned checkpoint was no better.
    val e = edges.join(outdeg, "src").localCheckpoint()
    val nations = Tables.nation(s, dir).select(col("n_nationkey").as("node"),
      col("n_name"))
    // |V| is dimension-table-bounded (25 nations) — a driver-side count
    // of metadata, not data
    val nV = nations.count()
    val base = (15L * Scale) / (100L * nV)
    var ranks = nations.select(col("node"), lit(Scale / nV).as("r"))
    for (_ <- 1 to iters) {
      // hinted: a checkpoint keeps the optimizer's size estimate (a
      // product over the fact joins), so |V| rows look too big to broadcast
      val contrib = e.join(broadcast(ranks), e("src") === ranks("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("contrib"))
      ranks = nations
        .join(contrib, nations("node") === contrib("dst"), "left")
        .select(nations("node"),
          (lit(base) +
            expr(s"(${DampingNum}L * coalesce(contrib, 0L)) div 100L")).as("r"))
        .localCheckpoint() // |V| rows: truncate the per-iteration lineage
    }
    ranks.join(nations, "node")
      .select(col("n_name").as("nation"), col("r").as("rank_scaled"),
        (col("r").cast("double") / lit(1.0e12)).as("rank"))
  }

  // ---- triangle counting (market-basket co-purchase graph) ---------------

  /** Distinct undirected part co-purchase edges — two parts connected if
    * some order contains both (the market-basket graph; sparse by
    * construction: ~6% density at sf0.01, 0.6% at sf0.1). Built as a
    * lineitem SELF-JOIN co-partitioned on l_orderkey: per-order fanout
    * is C(items, 2) with the per-order item count bounded by the order
    * shape (TPC-H ≤ 7), so pair generation is linear in lineitem with a
    * constant factor — never quadratic in any global quantity — and the
    * DISTINCT collapse is one shuffle on the (x, y) pair key.
    */
  def basketEdges(s: SparkSession, dir: String): DataFrame = {
    // one shuffle to per-order part sets, pair-explode as a PROJECTION
    // (no self-join: the join form costs a second 6M-row shuffle and a
    // 20M-row join — measured 5.2 s vs 3.4 s for this shape at sf0.1),
    // then the one unavoidable big shuffle: DISTINCT over the pair
    // occurrences
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (p, i) ->
          |  transform(slice(ps, i + 2, size(ps)), q ->
          |    struct(p AS x, q AS y))))""".stripMargin)).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
      .distinct()
  }

  /** Co-purchase edges with SUPPORT (distinct orders containing the
    * pair) at least `minSupport` — the thresholded graph community
    * detection wants: the raw co-purchase graph is one dense giant
    * component (every popular part transitively touches everything),
    * while support-thresholded edges keep only repeated co-purchases.
    * Same pair-explode projection as [[basketEdges]]; the DISTINCT
    * becomes a groupBy count (identical shuffle key, one extra long
    * of state per pair).
    */
  val ComponentsSupport = 2

  /** Memoized, localCheckpointed support-graph edge list — the SERVED
    * GRAPH posture: components, label propagation, and any future
    * consumer share ONE materialization per (session, corpus, support)
    * instead of re-deriving the lineitem pair-explode per query. At
    * 100 TB the edge list is a written table; in-JVM the checkpoint is
    * its stand-in.
    */
  def supportedEdges(s: SparkSession, dir: String,
                     minSupport: Int = ComponentsSupport): DataFrame =
    Memo.over(s, "Graph.supportedEdges", s"$dir/lineitem.parquet", minSupport)(
      supportedEdgesUncached(s, dir, minSupport).localCheckpoint())

  private def supportedEdgesUncached(s: SparkSession, dir: String,
                                     minSupport: Int): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (p, i) ->
          |  transform(slice(ps, i + 2, size(ps)), q ->
          |    struct(p AS x, q AS y))))""".stripMargin)).as("e"))
      .groupBy(col("e.x").as("x"), col("e.y").as("y"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .select("x", "y")

  /** WEAKLY CONNECTED COMPONENTS over the support-thresholded
    * co-purchase graph — "product communities", labeled by the
    * minimum reachable part id. Rides [[graft.pipeline.Dedup
    * .clustersFromEdges]]: distributed min-label propagation WITH
    * pointer jumping (each round a node takes min of its label, its
    * neighbors' labels, and its label's label — O(log diameter)
    * shuffle rounds instead of O(diameter), the same iteration an
    * HLL-free large-star/small-star CC runs at web scale). Driver
    * holds only the convergence counter.
    */
  def components(s: SparkSession, dir: String,
                 minSupport: Int = ComponentsSupport): DataFrame = {
    val e = supportedEdges(s, dir, minSupport)
      .select(col("x").as("id1"), col("y").as("id2"))
    graft.pipeline.Dedup.clustersFromEdges(e)._1
      .select(col("doc_id").as("part_id"), col("cluster_id").as("component_id"))
  }

  /** Per-part triangle counts over the co-purchase graph via
    * DEGREE-ORDERED ORIENTATION (Schank & Wagner 2005; distributed
    * treatment in Suri & Vassilvitskii 2011): direct every undirected
    * edge from its lower-(degree, id) endpoint to the higher, then for
    * each oriented edge (u,v) the closing vertices are exactly
    * N⁺(u) ∩ N⁺(v) — each triangle found once, at its lowest edge.
    * Orientation bounds every out-degree by O(√E), so intersection
    * work is O(E^{3/2}) regardless of skew — a celebrity node with
    * degree 10⁶ keeps an EMPTY out-list once its edges all point
    * outward-in.
    *
    * EDGE-ITERATOR form on purpose: materializing wedges (the naive MR
    * shape) shuffles O(Σ C(outdeg,2)) rows — measured 35M wedges /
    * 14.5 s bench median at sf0.1; intersecting sorted out-adjacency
    * ARRAYS does the same closing work inside a projection, so the
    * only shuffled frames are the E-row edge list and the V-row
    * adjacency table (2.3 s locked median, 6.4× — same hash). Per-key
    * state is one out-list, ≤ O(√E) by the orientation bound. Plan: degrees partial-agg (V rows) →
    * two V-row joins to orient → one groupBy(u) sort_array collect →
    * two adjacency joins onto edges → array_intersect projection; the
    * per-node credit is u,v += |∩| plus an explode of the triangle
    * closers (|triangles| rows, ≪ wedges). No windows anywhere.
    */
  def triangleCount(s: SparkSession, dir: String): DataFrame = {
    // the edge list feeds the degree pass AND the orientation join; the
    // executed plan reads its DISTINCT exchange once (ReusedExchange)
    val e = basketEdges(s, dir)
    // V-row degree table, broadcast (V ≪ E; a shuffle join would move
    // the edge list twice); both orientation joins reuse the broadcast
    val deg = e.select(col("x").as("node"))
      .union(e.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by (deg, node): u -> v iff (deg_u, u) < (deg_v, v)
    val withDeg = e
      .join(broadcast(deg.withColumnRenamed("node", "x")
        .withColumnRenamed("deg", "dx")), "x")
      .join(broadcast(deg.withColumnRenamed("node", "y")
        .withColumnRenamed("deg", "dy")), "y")
    val oriented = withDeg.select(
      when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")),
        struct(col("x").as("u"), col("y").as("v")))
        .otherwise(struct(col("y").as("u"), col("x").as("v")))
        .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"))
      .localCheckpoint() // read by the adjacency pass and both closer legs
    // both the u-side and v-side joins read the adjacency table through
    // one exchange (at web scale these are shuffle joins co-partitioned
    // on the node key — the V-row table cannot broadcast there; here
    // Spark picks broadcast on its own, fine at dimension-bounded V)
    val adj = oriented.groupBy(col("u").as("node"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    val closers = oriented
      .join(adj.select(col("node").as("u"), col("nbrs").as("nu")), Seq("u"))
      .join(adj.select(col("node").as("v"), col("nbrs").as("nv")), Seq("v"))
      .select(col("u"), col("v"),
        array_intersect(col("nu"), col("nv")).as("ws"))
      .filter(size(col("ws")) > 0)
    // credit all three corners: u and v once per closer, each closer once
    val uv = closers.select(explode(array(col("u"), col("v"))).as("part_id"),
      size(col("ws")).cast("long").as("n"))
    val w = closers.select(explode(col("ws")).as("part_id"), lit(1L).as("n"))
    uv.union(w).groupBy("part_id").agg(sum("n").as("n_tri"))
  }

  // ---- harmonic centrality (the other Common Crawl ranking signal) -------

  /** BFS radius of the truncated harmonic centrality: distances beyond
    * HarmonicRadius hops contribute 0 (the standard truncated variant —
    * Boldi & Vigna 2014 §4 discuss exactly this cutoff).
    */
  val HarmonicRadius = 6

  /** Strong-trade nation graph: undirected cross-nation edges weighted
    * by lineitem count (both directions summed), keeping only the
    * heaviest quartile — the threshold is the DISCRETE rank statistic
    * (w, a, b) at position ceil(0.75·n), picked with TakeOrdered(k) +
    * one struct-max agg (no window, no global sort; the edge set is
    * dimension²-bounded — ≤ 300 rows for 25 nations at ANY data scale,
    * so the k-row driver pass is metadata, not data). Everything that
    * touches the fact tables is the single e0 aggregation.
    */
  def strongTradeEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    val und = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(least(col("c_nationkey"), col("s_nationkey")).as("a"),
        greatest(col("c_nationkey"), col("s_nationkey")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
      .localCheckpoint() // counted here, then read by the cut and the filter
    val n = und.count()
    val k = math.ceil(0.75 * n).toLong
    if (k == 0L) und.select(col("a"), col("b"))
    else {
      // k-th smallest (w, a, b): TakeOrdered k rows, then max = the cut
      val thr = und.select(struct(col("w"), col("a"), col("b")).as("t"))
        .orderBy(col("t")).limit(k.toInt)
        .agg(max(col("t")).as("t"))
      und.join(broadcast(thr),
          struct(col("w"), col("a"), col("b")) > col("t"))
        .select(col("a"), col("b"))
    }
  }

  /** Truncated harmonic centrality over the strong-trade graph:
    * C(v) = Σ_{u ≠ v, d(u,v) ≤ R} ⌊Scale / d(u,v)⌋ — exact integer
    * arithmetic like pagerank, so a fixed BFS round count is
    * bit-identical in any engine. Distances come from R rounds of
    * min-plus frontier relaxation over the symmetrized adjacency; the
    * all-pairs distance frame is V²-bounded, and V here is the nation
    * DIMENSION (25 at every SF) — the exact form is for
    * dimension-bounded vertex sets (host-graph rankings at web scale
    * use the HyperBall HLL-sketch approximation instead; documented in
    * PLANS). Per round: one join of the distance frame into the edge
    * frame + one min partial agg, lineage cut by localCheckpoint
    * (the pagerank discipline). Reference posture: Common Crawl
    * publishes harmonic centrality as its primary host ranking.
    */
  /** Harmonic centrality via the HYPERBALL iteration (Boldi & Vigna
    * 2013) — the structure that scales to web graphs: each node keeps a
    * NEIGHBORHOOD SKETCH, each round every node merges its neighbors'
    * sketches (one co-partitioned join + one merge partial-agg — state
    * is V sketches, never V² pairs), and the harmonic sum accrues
    * incrementally as Σ_r (|B(v,r)| − |B(v,r−1)|)·⌊Scale/r⌋. Here V is
    * dimension-bounded (≤ 64), so the sketch is an EXACT 64-bit mask
    * (bit_or merge, bit_count size) and the result provably EQUALS
    * [[harmonic]] — the spec and the shared oracle pin the equivalence.
    * At web scale the only change is the sketch type: the mask becomes
    * an HLL register vector (merge = per-register max, |B| = the HLL
    * estimate) — same joins, same accrual, same plan shape; the
    * per-node state is registers, not reachable-sets.
    */
  def harmonicBall(s: SparkSession, dir: String,
                   radius: Int = HarmonicRadius): DataFrame = {
    require(radius >= 1, "radius must be >= 1")
    val keep = strongTradeEdges(s, dir)
    val adj = keep.select(col("a").as("src"), col("b").as("t"))
      .union(keep.select(col("b").as("src"), col("a").as("t")))
      .localCheckpoint() // every round is its own query and reads it
    val nations = Tables.nation(s, dir)
      .select(col("n_nationkey").as("node"), col("n_name"))
    val maxKey = nations.agg(max("node")).head().getInt(0)
    require(maxKey < 64,
      "exact-mask HyperBall needs node ids < 64; larger graphs take the HLL sketch")
    var cur = nations.select(col("node"),
      expr("shiftleft(1L, node)").as("mask"), lit(0L).as("h"))
    for (r <- 1 to radius) {
      val nbr = cur.select(col("node").as("src"), col("mask"))
        .join(broadcast(adj), "src")
        .select(col("t").as("node"), col("mask"))
      val merged = cur.select(col("node"), col("mask")).union(nbr)
        .groupBy("node").agg(expr("bit_or(mask)").as("nmask"))
      cur = cur.join(broadcast(merged), "node")
        .select(col("node"), col("nmask").as("mask"),
          (col("h") +
            (bit_count(col("nmask")) - bit_count(col("mask"))).cast("long") *
              lit(Scale / r)).as("h"))
        .localCheckpoint() // V rows of (mask, accumulator) per round
    }
    cur.join(nations, "node")
      .select(col("n_name").as("nation"), col("h").as("harmonic_scaled"),
        (col("h").cast("double") / lit(1.0e12)).as("harmonic"))
  }

  def harmonic(s: SparkSession, dir: String,
               radius: Int = HarmonicRadius): DataFrame = {
    require(radius >= 1, "radius must be >= 1")
    val keep = strongTradeEdges(s, dir)
    val adj = keep.select(col("a").as("src"), col("b").as("t"))
      .union(keep.select(col("b").as("src"), col("a").as("t")))
      .localCheckpoint() // every round is its own query and reads it
    val nations = Tables.nation(s, dir)
      .select(col("n_nationkey").as("node"), col("n_name"))
    var dist = nations.select(col("node").as("o"), col("node").as("nd"),
      lit(0).as("d"))
    for (_ <- 1 to radius) {
      val relaxed = dist.join(broadcast(adj), dist("nd") === adj("src"))
        .select(col("o"), col("t").as("nd"), (col("d") + lit(1)).as("d"))
      dist = dist.union(relaxed)
        .groupBy("o", "nd").agg(min("d").as("d"))
        .localCheckpoint() // ≤ V² rows: truncate per-round lineage
    }
    val contrib = dist.filter(col("d") > 0)
      .groupBy(col("nd").as("node"))
      .agg(sum(expr(s"${Scale}L div d")).as("h"))
    nations.join(contrib, Seq("node"), "left")
      .select(col("n_name").as("nation"),
        coalesce(col("h"), lit(0L)).as("harmonic_scaled"),
        (coalesce(col("h"), lit(0L)).cast("double") / lit(1.0e12))
          .as("harmonic"))
  }

  /** k-core membership target over the mutual-kNN graph (degrees are
    * bounded by KnnGraphK = 3, so 2 is the first interesting core).
    */
  val KcoreK = 2

  /** Oracle unroll depth — the engine loop must converge within this
    * many peels (asserted; measured 10 / 5 / 9 rounds at sf0.001 /
    * 0.01 / 0.1 — peeling depth is O(10) even on web graphs).
    */
  val KcoreOracleRounds = 16

  /** k-CORE of the MUTUAL k-NN embedding graph — the maximal subgraph
    * where every surviving vector keeps ≥ k surviving mutual
    * neighbors, by ITERATIVE PEELING (Matula & Beck 1983; the
    * Batagelj-Zaveršnik algorithm's synchronous distributed form):
    * each round one degree partial-agg over the live edge list and two
    * node-keyed semi joins dropping edges that lost an endpoint, until
    * a round removes nothing. The fixed point IS the k-core whatever
    * order peels happen in — that confluence is why the synchronous
    * distributed peel and any sequential peel agree exactly (the spec
    * pins a one-node-at-a-time driver peel).
    *
    * Substrate choice on record: the co-purchase graphs are ER-like
    * and ER cores are all-or-nothing (measured: the 3-core of the
    * support graph is EVERYTHING at sf0.001 and EMPTY at sf0.1 — a
    * sharp threshold, the known random-graph phase transition), so the
    * entry runs on the MUTUAL k-NN graph, where mutuality is selective
    * and the 2-core is the dense-cluster extractor SemDeDup-style
    * curation consumes (measured survivors ≈ 65-70%% of mutual nodes
    * at every SF, rounds ≤ 10). Mutual edges: intersect the directed
    * top-k lists with their reverses — one dedup shuffle on the pair
    * key over the (N·k)-row graph frame.
    *
    * Scale shape: per round the only shuffles are the degree groupBy
    * (E-row input, V-row output) and the two co-partitioned joins on
    * the node key; driver state is one edge COUNT per round (the
    * convergence test). Rounds = peeling depth, asserted ≤
    * [[KcoreOracleRounds]] so the unrolled DuckDB oracle provably
    * reaches the same fixed point (extra oracle rounds no-op past
    * convergence). Output: surviving vectors with their in-core
    * mutual degree.
    */
  def kcore(s: SparkSession, dir: String, k: Int = KcoreK): DataFrame = {
    val g = graft.pipeline.Similarity.knnGraph(s, dir)
      .select(col("vec_id").as("x"), col("nbr_id").as("y"))
    var e = g.intersect(g.select(col("y").as("x"), col("x").as("y")))
      .filter(col("x") < col("y"))
      .localCheckpoint()
    var nEdges = e.count()
    var stable = false
    var rounds = 0
    while (!stable) {
      val keep = e
        .select(explode(array(col("x"), col("y"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("node")
      // the surviving-edge count rides an Observation on the round's
      // checkpoint job (optimization r18, the clustersFromEdges
      // discipline): one scheduler round-trip per peel saved
      val obs = new org.apache.spark.sql.Observation()
      val e2 = e
        .join(keep.withColumnRenamed("node", "x"), Seq("x"))
        .join(keep.withColumnRenamed("node", "y"), Seq("y"))
        .select("x", "y")
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      val n2 = obs.get("n").asInstanceOf[Long]
      rounds += 1
      require(rounds <= KcoreOracleRounds,
        s"k-core peel did not converge in $KcoreOracleRounds rounds " +
          "— raise KcoreOracleRounds (and the oracle unroll) together")
      stable = n2 == nEdges
      e = e2; nEdges = n2
    }
    e.select(explode(array(col("x"), col("y"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("core_deg"))
  }

  /** Synchronous label-propagation rounds the entry runs (the
    * SEMANTICS is "R synchronous rounds", not convergence — LPA can
    * oscillate under synchronous update, and a convergence loop would
    * make the result plan-dependent; a fixed unroll keeps both engines
    * and any cluster size bit-identical).
    */
  val LabelPropRounds = 4

  /** COMMUNITY DETECTION by label propagation (Raghavan et al. 2007)
    * over the support-thresholded co-purchase graph: every node starts
    * as its own label; each synchronous round a node adopts its
    * neighbors' most frequent label. Every nondeterminism in the
    * classic algorithm is pinned: synchronous updates (no visit
    * order), the argmax tie broken by (count DESC, label ASC) through
    * the packed key cnt·2³² − label (the invertedVocab convention;
    * exact while labels < 2³² — node ids here), and a fixed round
    * count (see [[LabelPropRounds]]).
    *
    * Scale shape = pagerank's: the edge list is built once; per round
    * one co-partitioned join (labels onto edge endpoints) + one
    * (node, label)-keyed partial-agg count + one node-keyed max_by —
    * all shuffles on node-sized frames, lineage cut per round, the
    * driver holds nothing but the loop index.
    */
  def labelProp(s: SparkSession, dir: String,
                rounds: Int = LabelPropRounds): DataFrame = {
    val e = supportedEdges(s, dir)
    // co-partitioned by src ONCE (optimization r18, the
    // pagerank/clustersFromEdges discipline): the label frame
    // broadcasts, and both per-round aggregations key on src (hash(src)
    // satisfies clustering by (src, lab) — subset rule), so the rounds
    // reuse this one exchange
    val sym = e.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(e.select(col("y").as("src"), col("x").as("dst")))
      .repartition(col("src"))
      .localCheckpoint()
    var lab = sym.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node"))
    for (_ <- 1 to rounds) {
      lab = sym.join(lab.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("src").as("node"))
        .agg(max_by(col("lab"),
          // (count, lowest-label) tiebreak as a STRUCT: the old
          // c*2^32 - lab packing inverted the order once labels
          // (min node ids) exceeded 2^32 (round-13 overflow class)
          struct(col("c"), -col("lab"))).as("lab"))
        .localCheckpoint()
    }
    lab.select(col("node").as("part_id"), col("lab").as("community_id"))
  }
}
