package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.Materialize

/** Damped PageRank over a directed edge list, in EXACT integer
  * arithmetic — the graph-centrality primitive for corpus curation
  * (authority-weighting a link graph, picking canonical docs inside
  * dedup clusters, weighting hosts in a crawl frontier).
  *
  * Engine-portability contract: ranks are scaled 64-bit integers
  * (initial mass `r0` per node). Each round every node sends
  * floor(rank / out_degree) along each out-edge, and new ranks are
  * base + floor(85% of inbound mass) — all floor divisions of
  * positive integers, so every engine that implements the same
  * recurrence produces bit-identical BIGINTs (the DuckDB oracle runs
  * it as a recursive CTE). No float appears anywhere; the rounding
  * mass lost to floors is part of the recurrence's definition, not an
  * error term.
  *
  * Dangling-node convention: nodes with no out-edges send nothing
  * (their mass evaporates); nodes with no in-edges are kept alive by a
  * zero-weight self-loop so the iteration frame always carries one row
  * per node. Both conventions are mirrored in the oracle.
  *
  * Scale shape: one join + one aggregation per round, both shuffling
  * on node id; ranks are re-materialized each round ([[Materialize]]:
  * reliable checkpoint under a configured checkpoint dir) so lineage
  * stays flat on a 1000-executor run. Overflow headroom: worst-case
  * inbound mass per node is the whole graph's, n_nodes * r0, so keep
  * n_nodes * r0 * 85 < 2^63 (with the default r0 = 10^9 that allows
  * ~10^8 nodes; shrink r0 for bigger graphs).
  *
  * One recurrence serves every entry point: uniform PageRank is
  * personalized PageRank with every node a seed (Haveliwala, WWW 2002),
  * so the private builders take the seed list as an `Option` and read
  * `None` as "every node", with the seed flag a literal 1.
  */
object PageRank {

  /** The distinct node frame of an edge list. LAZY fence: its first
    * consumer is always the eager `ed` fence job of [[staticFrames]],
    * whose action materializes it — later consumers (the rank seed
    * frame) read the cached blocks, so the fence costs no eager job of
    * its own. */
  private def nodeFrame(e: DataFrame): DataFrame = Materialize.lazyFence(
    e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct())

  /** The canonical distinct edge list, MATERIALIZED once: it feeds the
    * node frame, the degree count and the self-loop union (three
    * consumers — an unfenced distinct would re-shuffle the whole edge
    * list for each, the triangleCounts lesson). */
  private def edgeFrame(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = Materialize(
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())

  /** `df` with the BIGINT seed flag `as` of its `key` column: 1 when the
    * key is in the seed list (its first column; absent seeds are
    * ignored), 0 otherwise, by a left join against the broadcast list
    * (seed lists are dimension-sized). With no seed list every node is
    * a seed and the flag is the literal 1. */
  private def flagSeeds(df: DataFrame, key: String, as: String,
      seeds: Option[DataFrame]): DataFrame = seeds.fold(df.withColumn(as, lit(1L))) { s =>
    val set = s.select(col(s.columns.head).as(key)).distinct().withColumn("__s", lit(1L))
    df.join(broadcast(set), Seq(key), "left")
      .withColumn(as, coalesce(col("__s"), lit(0L))).drop("__s")
  }

  /** Columns of the static edge frame: the seeded recurrence also
    * stores the dst's seed flag `ds`; uniform rounds read the literal
    * instead, so they shuffle no flag column. */
  private def edgeCols(seeds: Option[DataFrame]): Seq[Column] =
    Seq("src", "dst", "w", "d").map(col) ++ seeds.map(_ => col("ds"))

  /** The 15% teleport mass per round, after the argument checks every
    * entry point shares (run before any Spark job). */
  private def teleportBase(iterations: Int, r0: Long): Long = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    require(r0 % 20 == 0, s"r0 must be divisible by 20 so the 15% base term is exact, got $r0")
    15L * r0 / 100
  }

  /** The static frames the rounds iterate on: the seed-flagged node
    * frame (node, is_seed), the edge frame and the node-sized
    * out-degree frame `deg` (persisted with the edge frame for
    * [[resumeDelta]]'s degree patching). In the edge frame, zero-weight
    * self-loops keep no-inbound nodes in the frame (so the per-round
    * aggregation alone preserves the full node set), and out-degree is
    * STATIC, so it folds into the edge list once instead of re-joining
    * against the rank frame every round — one join per iteration
    * instead of two. `deg` is consumed exactly once (by the fold-in
    * join) off the already-checkpointed edge list, so it carries no
    * fence of its own. */
  private def staticFrames(e: DataFrame, seeds: Option[DataFrame])
      : (DataFrame, DataFrame, DataFrame) = {
    val nodes = nodeFrame(e)
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val eplus =
      e.select(col("src"), col("dst"), lit(1L).as("w"))
        .union(nodes.select(col("node").as("src"), col("node").as("dst"), lit(0L).as("w")))
    val folded = eplus
      .join(deg.select(col("node").as("src"), col("d")), Seq("src"), "left")
      .withColumn("d", coalesce(col("d"), lit(1L)))
    val (flagged, ed) = seeds match {
      case None => (nodes.withColumn("is_seed", lit(1L)), folded)
      case Some(_) =>
        // LAZY: first consumed by the eager `ed` fence job below (the
        // rank seed frame reads the cached blocks after)
        val f = Materialize.lazyFence(flagSeeds(nodes, "node", "is_seed", seeds))
        (f, folded.join(f.select(col("node").as("dst"), col("is_seed").as("ds")), Seq("dst")))
    }
    (flagged, Materialize(ed.select(edgeCols(seeds): _*)), deg)
  }

  /** `iterations` rounds of the integer recurrence from an arbitrary
    * starting rank frame. Round fences are LAZY and chain: each round's
    * final stage (and its persist) rides the NEXT consumer's job
    * instead of paying an eager materialization job of its own — every
    * round's frame still persists and truncates lineage when first
    * computed (the 1000-executor contract), the per-round driver
    * round-trips shrink (guide §5), and the round count here is
    * single-digit, so the in-flight DAG stays shallow. A fixed round
    * count, not a convergence loop: no round pays a probe. */
  private def iterate(ed: DataFrame, ranks0: DataFrame, iterations: Int,
      base: Long, seeds: Option[DataFrame]): DataFrame = {
    // the teleport lands on seeds only: the dst's flag is constant per
    // group, so it rides the aggregation as a max
    val teleport = seeds.fold(lit(base))(_ => max(col("ds")) * lit(base))
    (1 to iterations).foldLeft(ranks0) { (ranks, _) =>
      Materialize.lazyFence(
        ranks.join(ed, col("node") === col("src"))
          .groupBy(col("dst").as("node2"))
          .agg(sum(expr("(rank div d) * w")).as("s"), teleport.as("t"))
          .select(col("node2").as("node"), (col("t") + expr("(85 * s) div 100")).as("rank")))
    }
  }

  /** The full-rebuild entry points: canonical frames from `edges`,
    * ranks starting at is_seed·r0, or from stored `state` rows where a
    * node has one. Returns (ranks, static, deg). */
  private def rebuild(edges: DataFrame, seeds: Option[DataFrame],
      state: Option[DataFrame], iterations: Int, r0: Long, srcCol: String,
      dstCol: String): (DataFrame, DataFrame, DataFrame) = {
    val base = teleportBase(iterations, r0)
    val (flagged, ed, deg) = staticFrames(edgeFrame(edges, srcCol, dstCol), seeds)
    val init = col("is_seed") * lit(r0)
    // no fence on ranks0: one consumer (round 1's join)
    val ranks0 = state.fold(flagged.select(col("node"), init.as("rank"))) { st =>
      flagged.join(st.select(col("node"), col("rank").as("__stored")), Seq("node"), "left")
        .select(col("node"), coalesce(col("__stored"), init).as("rank"))
    }
    (iterate(ed, ranks0, iterations, base, seeds), ed, deg)
  }

  /** The delta-shaped entry points: PATCH the persisted static frame
    * with the delta batch. The CONTRACT is that the delta batch is
    * dimension-sized (broadcastable): every base-side frame is only
    * SCANNED against a broadcast of a delta-derived frame — the base
    * graph is never shuffled. Genuinely new (not-in-base) canonical
    * delta edges are found against a base scan, only the rows whose src
    * gained an edge are rebuilt (re-folded against patched degrees, seed
    * flags re-derived from the broadcast seed list — flags are
    * seed-membership facts, independent of the base graph), the
    * untouched remainder is kept verbatim, and brand-new nodes append
    * self-loops and enter at is_seed·r0. Self-loop rows keep their
    * stored `d` even when a degree changed: with w = 0 the round
    * contribution (rank div d)·w is zero whatever d is, so only w = 1
    * rows need the patched degree. */
  private def patch(static0: DataFrame, deg0: DataFrame, state: DataFrame,
      deltaEdges: DataFrame, seeds: Option[DataFrame], iterations: Int, r0: Long,
      srcCol: String, dstCol: String): DataFrame = {
    val base = teleportBase(iterations, r0)
    val dEdges = deltaEdges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    val baseReal = static0.filter(col("w") === 1L).select(col("src"), col("dst"))
    // delta-minus-base without shuffling the base: stream the base scan
    // against the broadcast delta to find already-present pairs, then
    // subtract that (delta-sized) hit set from the delta
    val present = baseReal.join(broadcast(dEdges), Seq("src", "dst"), "left_semi")
    val newE = Materialize(
      dEdges.join(broadcast(present), Seq("src", "dst"), "left_anti"))
    val changedSrc = newE.select(col("src")).distinct()
    // brand-new nodes: endpoints of new edges absent from the base node
    // set (= static0's one-self-loop-per-node rows)
    val baseNodes = static0.filter(col("w") === 0L).select(col("src").as("node"))
    val newNodeCand = newE.select(col("src").as("node"))
      .union(newE.select(col("dst").as("node"))).distinct()
    val nodePresent = baseNodes.join(broadcast(newNodeCand), Seq("node"), "left_semi")
    val newNodes = Materialize(flagSeeds(
      newNodeCand.join(broadcast(nodePresent), Seq("node"), "left_anti"),
      "node", "is_seed", seeds))
    // out-degrees change exactly on new-edge srcs: patched d = stored + new
    val degDelta = newE.groupBy(col("src").as("node")).agg(count(lit(1)).as("dd"))
    val degChangedVals = deg0.join(broadcast(degDelta.select(col("node"))),
      Seq("node"), "left_semi")
    val degNew = degDelta.join(degChangedVals, Seq("node"), "left")
      .select(col("node"), (coalesce(col("d"), lit(0L)) + col("dd")).as("d"))
    // rebuilt w=1 rows: the changed srcs' base edges + the new edges,
    // re-folded against the patched degrees
    val baseChangedReal = static0.filter(col("w") === 1L)
      .join(broadcast(changedSrc), Seq("src"), "left_semi")
      .select(col("src"), col("dst"))
    val rebuiltReal = flagSeeds(baseChangedReal.union(newE)
      .join(broadcast(degNew.select(col("node").as("src"), col("d"))), Seq("src"))
      .select(col("src"), col("dst"), lit(1L).as("w"), col("d")), "dst", "ds", seeds)
    // one scan keeps everything except the w=1 rows being rebuilt
    val untouched = static0.join(broadcast(changedSrc.withColumn("__c", lit(1))), Seq("src"), "left")
      .filter(col("w") === 0L || col("__c").isNull)
    val newSelfLoops = newNodes
      .join(degNew, Seq("node"), "left")
      .select(col("node").as("src"), col("node").as("dst"), lit(0L).as("w"),
        coalesce(col("d"), lit(1L)).as("d"), col("is_seed").as("ds"))
    val cols = edgeCols(seeds)
    val ed = Materialize(untouched.select(cols: _*).union(rebuiltReal.select(cols: _*))
      .union(newSelfLoops.select(cols: _*)))
    // single consumer (round 1) over a parquet state scan + checkpointed
    // newNodes — no fence needed
    val ranks0 = state.select(col("node"), col("rank"))
      .union(newNodes.select(col("node"), (col("is_seed") * lit(r0)).as("rank")))
    iterate(ed, ranks0, iterations, base, seeds)
  }

  def run(edges: DataFrame, iterations: Int = 5, r0: Long = 1000000000L,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    rebuild(edges, None, None, iterations, r0, srcCol, dstCol)._1

  /** [[run]] that ALSO returns the graph state a delta batch needs:
    * (ranks, static, deg) where `static` is the self-loop-extended
    * degree-folded edge frame the rounds iterated on and `deg` the
    * node-sized out-degree frame. Persist all three and hand them to
    * [[resumeDelta]] — then a later delta batch never re-shuffles the
    * base graph (the full union rebuild that [[resume]] pays). */
  def runWithState(edges: DataFrame, iterations: Int = 5,
      r0: Long = 1000000000L, srcCol: String = "src", dstCol: String = "dst")
      : (DataFrame, DataFrame, DataFrame) =
    rebuild(edges, None, None, iterations, r0, srcCol, dstCol)

  /** [[resume]] against PERSISTED GRAPH STATE — the delta-shaped fast
    * path: instead of rebuilding the canonical edge/node/degree frames
    * from the full base ∪ delta union (three shuffles of the whole
    * graph), PATCH the persisted static frame with the delta (see
    * [[patch]]) and run `iterations` more rounds of the identical
    * recurrence. Bit-identical to [[resume]] over the same inputs by
    * construction (same canonical frames, same recurrence — the
    * driver's oracle replays the same two-phase recursive CTE).
    * Contract: the delta batch is dimension-sized (broadcastable);
    * for bulk loads comparable to the base graph, use [[resume]]. */
  def resumeDelta(static0: DataFrame, deg0: DataFrame, state: DataFrame,
      deltaEdges: DataFrame, iterations: Int = 2, r0: Long = 1000000000L,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    patch(static0, deg0, state, deltaEdges, None, iterations, r0, srcCol, dstCol)

  /** Resume PageRank from PERSISTED rank state after a delta edge
    * batch lands — the incremental-maintenance face of [[run]] (the
    * `ops/IncrementalAgg` discipline applied to the bench's most
    * expensive family): instead of re-running the full schedule from
    * uniform init, seed the rank frame from the stored (node, rank)
    * rows — brand-new nodes enter at `r0` — and run `iterations`
    * MORE rounds of the identical recurrence over the full
    * (base ∪ delta) edge list. Degrees and self-loops are REBUILT
    * from the union (a recount, never stored stale — a delta edge
    * changes its endpoints' out-degrees, so stored degrees would
    * corrupt every incident floor division).
    *
    * By construction this equals running the same two-phase schedule
    * in one session (k rounds on the base graph, then j on the
    * union), which is exactly what the DuckDB oracle replays as two
    * chained recursive CTEs — so the incremental driver row proves
    * the state round-trip through the parquet sink, bit-exactly.
    * Cost: each resume round is [[run]]'s one join + one aggregation;
    * the savings is the k base rounds that never re-run. */
  def resume(edges: DataFrame, state: DataFrame, iterations: Int = 2,
      r0: Long = 1000000000L, srcCol: String = "src", dstCol: String = "dst")
      : DataFrame =
    rebuild(edges, None, Some(state), iterations, r0, srcCol, dstCol)._1

  /** Personalized PageRank: identical recurrence and conventions as
    * [[run]], but the initial mass AND the per-round 15% teleport base
    * live ONLY on the seed set — rank measures proximity to the seeds
    * (the random surfer restarts at a seed, never at an arbitrary
    * node). The topical-authority primitive of corpus curation: score
    * a crawl or link graph by closeness to a trusted/domain seed list.
    * Seeds absent from the graph are ignored; with seeds = all nodes
    * the recurrence degenerates to exactly [[run]].
    *
    * Scale shape: the seed flag is folded into the static edge frame
    * once (seed lists are dimension-sized — broadcast), so each round
    * is still ONE join + ONE aggregation; the flag rides the
    * aggregation as a constant-per-group max. Integer-exactness and
    * the dangling/self-loop conventions are [[run]]'s verbatim, so the
    * DuckDB recursive-CTE oracle differs only in two seed CASEs. */
  def personalized(edges: DataFrame, seeds: DataFrame, iterations: Int = 5,
      r0: Long = 1000000000L, srcCol: String = "src", dstCol: String = "dst")
      : DataFrame =
    rebuild(edges, Some(seeds), None, iterations, r0, srcCol, dstCol)._1

  /** [[personalized]] that ALSO returns (ranks, static, deg) so a
    * delta batch can go through [[resumeDeltaPersonalized]] without
    * re-shuffling the base graph — [[runWithState]]'s contract with
    * the seed flag riding the static frame. */
  def personalizedWithState(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 5, r0: Long = 1000000000L, srcCol: String = "src",
      dstCol: String = "dst"): (DataFrame, DataFrame, DataFrame) =
    rebuild(edges, Some(seeds), None, iterations, r0, srcCol, dstCol)

  /** [[resumeDelta]]'s delta-shaped fast path for the personalized
    * recurrence: the same [[patch]] of the persisted seed-flagged static
    * frame, with brand-new nodes entering at is_seed·r0 — exactly the
    * personalized init. Bit-identical to [[resumePersonalized]] over
    * the same inputs; same dimension-sized-delta contract. */
  def resumeDeltaPersonalized(static0: DataFrame, deg0: DataFrame,
      state: DataFrame, deltaEdges: DataFrame, seeds: DataFrame,
      iterations: Int = 2, r0: Long = 1000000000L, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame =
    patch(static0, deg0, state, deltaEdges, Some(seeds), iterations, r0, srcCol, dstCol)

  /** Personalized-PageRank warm-start resumption — [[resume]]'s
    * discipline applied to [[personalized]]: stored (node, rank) state
    * seeds the rank frame (delta-born nodes enter at is_seed·r0 — the
    * personalized init, so a brand-new non-seed node starts at zero
    * mass exactly as a one-session schedule would have it), degrees,
    * self-loops and seed flags are REBUILT over the full base ∪ delta
    * edge list, and `iterations` more rounds of the identical
    * seed-based recurrence run. Equals the one-session two-phase
    * schedule by construction; the oracle replays it as chained
    * recursive CTEs with the seed CASEs. */
  def resumePersonalized(edges: DataFrame, seeds: DataFrame,
      state: DataFrame, iterations: Int = 2, r0: Long = 1000000000L,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    rebuild(edges, Some(seeds), Some(state), iterations, r0, srcCol, dstCol)._1
}
