package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Materialize

/** Distributed graph primitives over plain edge-list DataFrames —
  * the shapes a corpus-curation pipeline needs around its link/near-dup
  * graphs (triangle counts for local clustering structure, hop
  * distances for neighborhood features), built as declarative joins so
  * they scale by partitioning alone. Companions to [[PageRank]] and
  * `Dedup.components`.
  */
object Graph {

  /** Auto-broadcast cutoff for [[triangleCounts]]'s closing join:
    * oriented edge lists at or under this many edges ship as a
    * broadcast hash relation (two longs/row → low hundreds of MB
    * hashed), larger ones fall back to the shuffled closing join. */
  val maxBroadcastEdges: Long = 10000000L

  /** Per-node triangle counts over an undirected graph given as
    * CANONICAL edges (u < v, distinct). Returns (node, n_tri) for every
    * node in at least one triangle.
    *
    * Algorithm: degree-ordered orientation (Cohen's MapReduce triangle
    * counting; also Latapy 2008). Every edge is directed from its
    * lower-(degree, id) endpoint to its higher one — a total order, so
    * each triangle is counted exactly once as wedge apex → (b ≺ c) plus
    * the closing oriented edge (b, c). Orientation is THE 100 TB move:
    * out-degrees are bounded by O(√m) regardless of hub skew (a node
    * keeps only neighbors of larger degree), so the wedge self-join —
    * the quadratic step — is bounded per node, where the naive
    * neighbor-pair expansion on a power-law graph would put a hub's
    * whole neighborhood through one reducer.
    *
    * Plan: two degree joins to orient, one self-join on apex (bounded by
    * orientation), one closing join on the (b, c) pair, one final count
    * aggregation. The closing join BROADCASTS the oriented edge list by
    * default (`broadcastEdges`): the wedge set is Σ out-deg² — orders of
    * magnitude larger than the edge list — so shuffling wedges to meet
    * edges is the wrong direction; with the edge list broadcast, wedges
    * stream map-side through a hash probe and are never exchanged
    * (measured 18.5 s → ~1 s on the sf0.1 co-occurrence graph). Switch
    * it off only when the edge list itself outgrows executor memory —
    * then the wedge shuffle is the honest cost.
    *
    * `broadcastEdges = None` (default) AUTO-SELECTS: the edge list is
    * already materialized, so one cheap count picks broadcast for lists
    * under [[Graph.maxBroadcastEdges]] (~10M edges ≈ low hundreds of MB
    * hashed — comfortably inside any executor profile this engine
    * targets) and the shuffled closing join above it. An unconditional
    * broadcast default would OOM or hit the broadcast size cap exactly
    * on the graphs big enough to need the fallback; auto keeps the
    * measured fast path for every graph that can afford it, with
    * `Some(true)`/`Some(false)` as explicit overrides.
    */
  def triangleCounts(edges: DataFrame, uCol: String = "u",
      vCol: String = "v", broadcastEdges: Option[Boolean] = None): DataFrame = {
    // materialize the canonical edge list once: it feeds the degree
    // count AND the orientation join, and upstream edge derivations
    // (e.g. a co-occurrence self-join + distinct) must not re-execute
    // per consumer. The edge count for the auto-broadcast decision is
    // the lazy fence's own materializing action (one job, not two).
    val e = Materialize.lazyFence(edges.select(col(uCol).as("u"), col(vCol).as("v")))
    val nEdges = e.count()
    // (degree, id) total order packed into one BIGINT: deg * 2^32 + node.
    // Correct only while node ids are in [0, 2^31) and degrees below
    // 2^31 — outside that the pack silently reorders and the failure
    // mode is WRONG triangle counts, so the bound is asserted fail-loud
    // with one aggregate over the (materialized, node-count-sized)
    // degree frame. The materialization also stops the degree groupBy
    // from re-executing for each of the two orientation joins. The pack
    // keeps the wedge comparison a single long compare instead of a
    // struct compare.
    val degRaw = Materialize(
      e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d")))
    val lim = degRaw.agg(min(col("node")).cast("long"),
      max(col("node")).cast("long"), max(col("d"))).collect()(0)
    if (!lim.isNullAt(0)) {
      val (minNode, maxNode, maxDeg) =
        (lim.getLong(0), lim.getLong(1), lim.getLong(2))
      require(minNode >= 0L && maxNode < (1L << 31) && maxDeg < (1L << 31),
        s"triangleCounts packs (degree, id) into one BIGINT as d*2^32 + " +
          s"node, which needs node ids in [0, 2^31) and degrees < 2^31; " +
          s"got node range [$minNode, $maxNode], max degree $maxDeg — " +
          "remap ids to a dense [0, n) range first")
    }
    val deg = degRaw
      .select(col("node"), (shiftleft(col("d"), 32) + col("node")).as("ord"))
    val oriented = Materialize(e
      .join(deg.select(col("node").as("u"), col("ord").as("ord_u")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("ord").as("ord_v")), Seq("v"))
      .select(
        when(col("ord_u") < col("ord_v"), col("u")).otherwise(col("v")).as("src"),
        when(col("ord_u") < col("ord_v"), col("v")).otherwise(col("u")).as("dst"),
        greatest(col("ord_u"), col("ord_v")).as("ord_dst")))
    val e1 = oriented.select(col("src"), col("dst").as("b"), col("ord_dst").as("ord_b"))
    val e2 = oriented.select(col("src"), col("dst").as("c"), col("ord_dst").as("ord_c"))
    // the closing key is the PACKED pair (b << 32 | c) — node ids are
    // already asserted < 2^31, so the pack is injective, and a single
    // BIGINT join key gives the broadcast probe a LongHashedRelation
    // (dense long-keyed map) instead of a generic row-hashed relation:
    // the probe runs once per wedge, the hot loop of the whole operator
    // CAST BEFORE PACKING: shiftleft on an IntegerType column masks the
    // shift to 5 bits (b << 32 would silently be b << 0 → key collisions
    // → WRONG counts for int-typed ids); the value-range require above
    // guards magnitude, the cast guards the column type
    val wedges = e1.join(e2, Seq("src")).filter(col("ord_b") < col("ord_c"))
      .select(col("src").as("a"), col("b"), col("c"),
        (shiftleft(col("b").cast("long"), 32) + col("c").cast("long")).as("bc"))
    val closing0 = oriented.select(
      (shiftleft(col("src").cast("long"), 32) + col("dst").cast("long")).as("bc"))
    // auto mode: the edge count rode the fence job above
    val doBroadcast = broadcastEdges.getOrElse(nEdges <= maxBroadcastEdges)
    val closing = if (doBroadcast) broadcast(closing0) else closing0
    val tris = wedges.join(closing, Seq("bc")) // (a, b, c), each once
    // one pass over the triangle set: a 3-branch union would re-execute
    // the wedge join once per role (measured 3x wall clock); explode
    // emits all three memberships from the single join
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Unweighted single-source shortest hop distances (BFS) within
    * `maxHops` over an undirected graph given as canonical edges.
    * Returns (node, dist) for every node reachable in ≤ maxHops hops,
    * including (source, 0). Frontier expansion: each round joins ONLY
    * the newly-reached frontier against the adjacency list, anti-joins
    * the settled set, and re-materializes ([[Materialize]] — reliable
    * checkpoint on a cluster) so lineage stays flat; rounds stop early
    * when a frontier drains. maxHops bounds driver rounds, so this is
    * the k-hop-neighborhood operator, not an unbounded traversal.
    */
  def bfsDistances(edges: DataFrame, source: Long, maxHops: Int,
      uCol: String = "u", vCol: String = "v"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // canonical input (u < v, distinct) means the two directed copies
    // can never collide — no distinct pass needed on the adjacency
    val adj = Materialize(
      edges.select(col(uCol).as("s"), col(vCol).as("d"))
        .unionAll(edges.select(col(vCol).as("s"), col(uCol).as("d"))))
    // the one-row seed is a local relation, already a leaf: no fence
    val seed = Seq((source, 0L)).toDF("node", "dist")
    // state: (settled, frontier, the frontier's hop)
    val ((settled, _, _), _) = Materialize.fixpoint((seed, seed, 0L), maxHops) {
      case (settled, frontier, hop) =>
        val reached = frontier.select(col("node"))
          .join(adj, col("node") === col("s"))
          .select(col("d").as("node")).distinct()
        val fresh = Materialize.lazyFence(
          reached.join(settled, Seq("node"), "left_anti")
            .select(col("node"), lit(hop + 1).as("dist")))
        val nFresh = fresh.count()
        // LAZY fence: the next round's fresh-count job consumes settled
        // (the anti-join) and is what materializes it
        val next = if (nFresh == 0L) settled
          else Materialize.lazyFence(settled.unionAll(fresh))
        ((next, fresh, hop + 1), nFresh)
    }
    settled
  }

  /** Weighted single-source shortest paths, bounded-round Bellman-Ford
    * with a frontier: after k rounds, `(node, cost)` is EXACTLY the
    * minimum path cost over paths of ≤ k edges (prefix-optimality of
    * min-plus makes per-round min-per-node sufficient), so `maxRounds`
    * is both the compute bound and a well-defined semantic — the same
    * k-bounded contract as [[bfsDistances]], which this generalizes to
    * integer edge weights.
    *
    * Scale: each round relaxes ONLY edges out of nodes improved last
    * round (a node re-enters the frontier when a cheaper multi-hop
    * route arrives), all shuffles key on node id, per-round state is
    * re-materialized through [[Materialize]] (reliable checkpoint on a
    * cluster) to keep lineage flat; early-out when a round improves
    * nothing. Weights must be non-negative for the result to be
    * meaningful as a distance (the bounded-round min itself is exact
    * for any weights). */
  def ssspDistances(edges: DataFrame, source: Long, maxRounds: Int,
      uCol: String = "u", vCol: String = "v", wCol: String = "w"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val adj = Materialize(
      edges.select(col(uCol).as("s"), col(vCol).as("d"), col(wCol).as("w"))
        .unionAll(edges.select(col(vCol).as("s"), col(uCol).as("d"), col(wCol).as("w"))))
    // the one-row seed is a local relation, already a leaf: no fence
    val seed = Seq((source, 0L)).toDF("node", "cost")
    val ((best, _), _) = Materialize.fixpoint((seed, seed), maxRounds) {
      case (best, frontier) =>
        val cand = frontier.join(adj, col("node") === col("s"))
          .select(col("d").as("node"), (col("cost") + col("w")).as("cand"))
          .groupBy("node").agg(min(col("cand")).as("cand"))
        val improved = Materialize.lazyFence(cand
          .join(best.select(col("node"), col("cost").as("old")), Seq("node"), "left")
          .filter(col("old").isNull || col("cand") < col("old"))
          .select(col("node"), col("cand").as("cost")))
        val nImproved = improved.count()
        // LAZY fence: round k+1's improved-count job joins best and is
        // what materializes it (see bfsDistances)
        val next = if (nImproved == 0L) best
          else Materialize.lazyFence(
            best.join(improved.select(col("node")), Seq("node"), "left_anti")
              .unionAll(improved))
        ((next, improved), nImproved)
    }
    best
  }

  /** Per-node local clustering coefficient over canonical edges
    * (u < v, distinct): cc = 2·triangles / (deg·(deg−1)), surfaced as
    * the exact nonnegative integer division cc_micro (DECIMAL(38,0)
    * products — hub degrees square). Composes [[triangleCounts]]
    * (degree-oriented, broadcast closing join) with one degree
    * aggregation and a key join; nodes of degree < 2 have no defined
    * coefficient and are excluded. Output: (node, deg, n_tri, cc_micro). */
  def clusteringCoefficient(edges: DataFrame, uCol: String = "u",
      vCol: String = "v"): DataFrame = {
    val dec = "decimal(38,0)"
    // fence the canonical edge list HERE: it feeds both the triangle
    // pass and the degree count, and upstream derivations (the
    // co-occurrence self-join + distinct) must not run twice
    val e = Materialize(edges.select(col(uCol).as("u"), col(vCol).as("v")))
    val tri = triangleCounts(e)
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.join(tri, Seq("node"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .filter(col("deg") >= 2L)
      .select(col("node"), col("deg"), col("n_tri"),
        call_function("div", col("n_tri").cast(dec) * lit(2000000L),
          col("deg").cast(dec) * (col("deg") - 1L)).as("cc_micro"))
  }

  /** Link-prediction scores over a BIPARTITE incidence list (left
    * entity, right entity): for every left pair sharing at least one
    * right neighbor —
    *  - `n_common`: shared-neighbor count (exact),
    *  - `jaccard_micro`: |∩| / |∪| of the right neighborhoods, exact
    *    nonnegative integer division,
    *  - `adamic_adar_nano`: Σ_z round(10⁹ / ln d(z)) over shared
    *    neighbors z (Adamic–Adar 2003) — each irrational term is
    *    nano-quantized BEFORE the sum, so the aggregate is an exact
    *    integer sum, order-independent and engine-portable where a raw
    *    double sum over a shuffle is neither. Neighbors occurring with
    *    degree 1 contribute the ln(1)=0 pole and are EXCLUDED, the
    *    standard convention.
    *
    * Plan: distinct incidence, per-side degree aggregations, then wedge
    * generation by self-join on the right key — the quadratic step is
    * bounded per right node by its degree (the caller controls hub
    * blowup by pre-filtering the incidence list; at 100 TB the right
    * fix is the same degree cap every production link predictor uses).
    * One grouped aggregation on the pair closes it. */
  def linkPrediction(incidence: DataFrame, leftCol: String,
      rightCol: String): DataFrame = {
    val inc = incidence.select(col(leftCol).as("l"), col(rightCol).as("r"))
      .distinct()
    val degL = inc.groupBy(col("l")).agg(count(lit(1)).as("dl"))
    val degR = inc.groupBy(col("r")).agg(count(lit(1)).as("dr"))
    val wedges = inc.select(col("l").as("a"), col("r"))
      .join(inc.select(col("l").as("b"), col("r")), Seq("r"))
      .filter(col("a") < col("b"))
      .join(degR, Seq("r"))
    val pairs = wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"),
        sum(when(col("dr") > 1L,
          round(lit(1e9) / log(col("dr").cast("double"))).cast("long"))
          .otherwise(lit(0L))).as("adamic_adar_nano"))
    pairs
      .join(degL.select(col("l").as("a"), col("dl").as("da")), Seq("a"))
      .join(degL.select(col("l").as("b"), col("dl").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("n_common"),
        call_function("div", col("n_common") * lit(1000000L),
          col("da") + col("db") - col("n_common")).as("jaccard_micro"),
        col("adamic_adar_nano"))
  }

  /** Synchronous label-propagation communities (Raghavan, Albert &
    * Kumara 2007), DETERMINISTIC variant: labels start as the node id;
    * each round EVERY node simultaneously adopts the most frequent
    * label among its neighbors, ties broken by the SMALLEST label (the
    * modePerGroup rule); exactly `rounds` rounds run. Classic LPA
    * updates asynchronously in random order — run-order-dependent and
    * useless under an exactness contract; the synchronous min-tie
    * fixed-round form is a pure function of (edges, rounds) that
    * replays identically in any engine (and unrolls as SQL for the
    * oracle). Synchronous LPA can two-cycle on bipartite-ish structure,
    * so `rounds` is a hard cap by design, not a convergence loop —
    * small round counts (3-5) are the published sweet spot; labels
    * after round r incorporate r-hop structure.
    *
    * Plan per round: one labels join shuffled on the node key, one
    * map-side-combined (node, label) count, one exact deterministic
    * mode ([[Relational.modePerGroup]]'s min_by — no row explosion
    * beyond the adjacency), lineage cut via Materialize — the
    * PageRank/BFS iterative discipline. Parallel edges dedupe first so
    * counts mean NEIGHBORS, not edge multiplicity.
    *
    * Output: (node, label) — label is the community representative id. */
  def labelPropagation(edges: DataFrame, rounds: Int,
      uCol: String = "u", vCol: String = "v"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    // standard LPA: self-loops drop (a node must not vote for its own
    // label), parallel edges dedupe (counts mean NEIGHBORS)
    val sym = edges.select(col(uCol).as("src"), col(vCol).as("dst"))
      .unionAll(edges.select(col(vCol).as("src"), col(uCol).as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val symM = graft.ext.Materialize(sym)
    var labels = symM.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      val nb = symM
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("label"))
      // LAZY chained round fences (PageRank.iterate's discipline): each
      // round's frame has exactly ONE consumer — the next round's join,
      // or the caller's terminal action — which materializes it; the
      // returned Dataset is already a LogicalRDD leaf, so plans stay
      // flat and the per-round eager fence jobs disappear (guide §5).
      // symM stays EAGER: every round references it, and under a lazy
      // fence the rounds' stages would race to compute it.
      labels = graft.ext.Materialize.lazyFence(
        Relational.modePerGroup(nb, Seq("node"), "label")
          .select(col("node"), col("mode_value").as("label")))
    }
    labels
  }

  /** k-core decomposition at a fixed k: the (unique) maximal subgraph
    * of the undirected graph in which every node has degree ≥ k — the
    * standard dense-community / spam-farm / influence-backbone
    * extractor. Computed by the classic peel: repeatedly delete nodes
    * of degree < k until none remain; the fixpoint is
    * order-independent, so the result is a pure function of the edge
    * set.
    *
    * Distributed shape per round: ONE degree aggregation (map-side
    * combined) + two left-semi joins of the edge list against the
    * surviving-node set, re-materialized ([[graft.ext.Materialize]])
    * so lineage stays flat across rounds — the PageRank/BFS loop
    * discipline. The per-round `.count()` is the control-plane
    * fixpoint probe (one scalar to the driver, never rows). Rounds are
    * data-dependent but ≤ the peel depth, which is small for real
    * graphs (hubs keep cores stable); `maxRounds` bounds the driver
    * loop and FAILS LOUD on pathological chains rather than spinning.
    *
    * Input: canonical undirected edges (u < v, distinct). Output:
    * (node, core_degree) for every node in the k-core, core_degree the
    * node's degree WITHIN the core (≥ k by construction). */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 100,
      uCol: String = "u", vCol: String = "v"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("core_degree"))
    // state: (edges, their count); each round's count is the action
    // that materializes its lazily fenced edge frame
    val e0 = Materialize.lazyFence(edges.select(col(uCol).as("u"), col(vCol).as("v")))
    val n0 = e0.count()
    // no edge, nothing to peel: skip the round job
    val ((core, _), converged) =
      if (n0 == 0L) ((e0, n0), true)
      else Materialize.fixpoint((e0, n0), maxRounds) { case (e, n) =>
        val keep = degrees(e).filter(col("core_degree") >= k).select("node")
        val next = Materialize.lazyFence(
          e.join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
            .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi"))
        val kept = next.count()
        // no edge peeled -> every survivor has deg >= k
        ((next, kept), n - kept)
      }
    require(converged, s"k-core peel did not converge in $maxRounds rounds " +
      "(pathological chain?) — raise maxRounds")
    degrees(core)
  }
}
