package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph analytics for corpus curation.
  *
  * Web-scale training-data pipelines rank crawl sources by link authority
  * (Common Crawl publishes harmonic-centrality/PageRank host rankings
  * precisely so curation pipelines can weight or cut domains). This module
  * provides the ranking primitive as a deterministic fixed-iteration
  * computation, so the result is a pure function of the edge set and can be
  * replayed bit-for-bit by the DuckDB oracle.
  *
  * Integer contract: ranks live in parts-per-billion (ppb) of the per-node
  * unit mass and every step is BIGINT floor arithmetic — no float
  * accumulation order to diverge cross-engine. With unnormalized unit
  * initialization (every node starts at R = 1e9) total mass is ≤ n·R, so the
  * damped update's `dampPct · contrib` term stays inside Long up to ~1e8
  * nodes; beyond that, shrink R (the iteration is scale-free) — documented
  * in SCALE.md.
  *
  * 100 TB shape: the edge list (the data-scale side) pays ONE hash(src)
  * exchange, is joined with its out-degree (build-small shuffled-hash, no
  * sort) and materialized as an eager localCheckpoint — a LogicalRDD that
  * REPORTS its hash(src) partitioning, so each of the `iters` rounds
  * reuses it for its rank join (the rank table is node-sized, orders of
  * magnitude smaller than the edges) with no exchange and no sort, and
  * pays only its one unavoidable groupBy(dst) shuffle. (r13 measured: the
  * former repartition+persist idiom cached through InMemoryRelation, which
  * under AQE reports unknown partitioning — every round re-exchanged and
  * re-sorted the cached edges.) Nothing collects to the driver; the
  * returned frame is node-sized. For iteration counts beyond 3 the loop eagerly
  * `localCheckpoint`s the rank frame every `checkpointEvery` rounds and
  * releases the superseded blocks (the `NearDup.dedupClusters` pattern),
  * so lineage depth and optimizer time stay bounded at any `iters`; at the
  * default of 3 the composed plan is shallow enough as-is and plans
  * exactly as before.
  */
object Graph {

  /** Unit rank mass: 1e9 ppb. */
  val RankUnit: Long = 1000000000L

  /** Fixed-iteration damped PageRank. Default is the sink-leak variant:
    * mass flowing into dangling nodes is not redistributed — the standard
    * simplification when ranks are used as a relative quality signal, and
    * what keeps the computation exactly SQL-replayable with the cheapest
    * plan. `redistributeDangling = true` switches to the textbook variant:
    * each round the total rank mass sitting on dangling nodes (no
    * out-edges) is floor-split evenly across all nodes and joins the
    * contribution term — still all-BIGINT and still SQL-replayable (the
    * dangling sum is a one-row aggregate crossed in broadcast-style), just
    * one extra node-sized aggregate per round.
    *
    * Per iteration, with integer floor division at every step:
    * {{{
    *   contrib(v) = Σ_{(u,v) ∈ E} rank(u) div outdeg(u)
    *   share      = (Σ_{u dangling} rank(u)) div n        [redistribution]
    *   rank'(v)   = ((100 - dampPct)·R
    *                 + dampPct·(contrib(v) [+ share])) div 100
    * }}}
    *
    * Lineage: each round stacks two joins and an aggregate onto the plan,
    * so for `iters > 3` the rank frame is eagerly `localCheckpoint`ed
    * every `checkpointEvery` rounds (node-sized pass; previous checkpoint
    * blocks released — the `NearDup.dedupClusters` hygiene) to keep
    * optimizer time and lineage depth bounded. Under
    * `redistributeDangling` EVERY non-final round checkpoints — each
    * following round reads the ranks twice (contribution join + the
    * dangling aggregate), so an uncheckpointed round doubles upstream
    * recompute per level (the hits() half-step lesson). The default
    * 3-round sink-leak call never checkpoints mid-loop and plans exactly
    * as before.
    *
    * Long-safety is a RUNTIME guarantee on the redistribution path (which
    * already counts nodes): `maxNodes` defaults to the documented
    * ~9.2e7-node bound and the call fails loudly beyond it.
    *
    * Convergence diagnostic: pass a `deltaL1Out` buffer to receive
    * ‖rank′ − rank‖₁ after every round (one one-row aggregate per round;
    * rounds are then checkpointed eagerly so round r doesn't recompute
    * rounds 1..r−1). Round 1's delta is against the uniform init R.
    *
    * Edges are deduplicated (simple graph) and null endpoints dropped.
    * Returns `(node STRING, rank_ppb BIGINT)` for every node appearing as a
    * source or destination.
    */
  def pageRank(edges: DataFrame, src: org.apache.spark.sql.Column,
               dst: org.apache.spark.sql.Column, iters: Int = 3,
               dampPct: Int = 85, redistributeDangling: Boolean = false,
               checkpointEvery: Int = 3,
               deltaL1Out: scala.collection.mutable.Buffer[Long] = null,
               maxNodes: Long = Long.MaxValue / (100L * RankUnit))
      : DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct in [0,100], got $dampPct")
    require(checkpointEvery >= 1, s"checkpointEvery >= 1, got $checkpointEvery")
    require(maxNodes >= 1, s"maxNodes >= 1, got $maxNodes")
    // The data-scale invariant of the loop: ONE full-edge exchange
    // (repartition by src), shared via ReuseExchange by the dedup, the
    // out-degree aggregate AND the join (hash(src) satisfies the
    // (src,dst)-distinct's clustering requirement, so neither aggregate
    // adds an exchange, and the join is co-partitioned). The join builds
    // its hash map from the node-sized out-degree side (shuffle_hash
    // hint), so nothing sorts. The result materializes as an EAGER
    // localCheckpoint: a LogicalRDD REPORTS hash(src) partitioning, which
    // every iteration's rank join then reuses with no exchange and no
    // sort. (The previous repartition+persist form cached through
    // InMemoryRelation, which under AQE reports unknown partitioning —
    // measured r13 on the sf0.1 graph: every round re-exchanged AND
    // re-sorted the cached edges, every join planned sort-merge, and the
    // whole edge build planned twice more to cache `nodes` — 98 plan
    // operators for iters=3 vs 30 after this change.)
    // Trade-off, documented: repartitioning the RAW edge rows first means
    // the one exchange carries pre-dedup rows with no map-side combine; a
    // distinct-first shape combines map-side but pays a SECOND full
    // exchange of the deduped set. One shuffle wins unless the duplicate
    // factor exceeds ~2; for multigraph-heavy corpora flip the order.
    val eP = edges
      .select(src.cast("string").as("src"), dst.cast("string").as("dst"))
      .na.drop().repartition(col("src")).distinct()
    val outdeg = eP.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val eo = NearDup.checkpointPartitioned(
      eP.join(outdeg.hint("shuffle_hash"), "src"))
    // node set derives from the MATERIALIZED edge table (not the lazy edge
    // plan — that re-ran the whole scan+join+dedup a second time), and is
    // itself eagerly checkpointed so its hash(node) partitioning survives
    // into every round's damped join.
    val nodes = NearDup.checkpointPartitioned(
      eo.select(col("src").as("node"))
        .union(eo.select(col("dst").as("node"))).distinct())
    // dangling = appears only as dst (node-sized; materialized only when
    // used; the right side reads the checkpointed edge blocks)
    val danglingNodes =
      if (redistributeDangling)
        Some(NearDup.checkpointPartitioned(
          nodes.join(eo.select(col("src").as("node")),
            Seq("node"), "left_anti")))
      else None
    try {
      // model-sized driver scalars, only when redistributing (two counts;
      // the nodes count also materializes the persist)
      val nNodes = if (redistributeDangling) nodes.count() else 1L
      if (redistributeDangling)
        require(nNodes > 0, "pageRank redistribution on an empty graph")
      // The Long-safety bound from the module doc, promoted to a LOUD
      // runtime guarantee (the maxKeys/heavyHitters house pattern) on the
      // path that already counts nodes: total mass ≤ n·R, so the damped
      // update's `dampPct · contrib` term needs n ≤ Long.MaxValue/(100·R)
      // (~9.2e7 at R = 1e9). Beyond that, shrink R — the iteration is
      // scale-free — or pre-aggregate the graph (SCALE.md "Link graphs").
      if (redistributeDangling)
        require(nNodes <= maxNodes,
          s"pageRank: $nNodes nodes exceeds maxNodes=$maxNodes — " +
            s"dampPct·contrib can overflow Long at R=$RankUnit ppb. " +
            "Shrink the rank unit (the iteration is scale-free) or raise " +
            "maxNodes deliberately after checking the bound (SCALE.md).")
      val nDangling = danglingNodes.map(_.count()).getOrElse(0L)

      // contribs is node-sized and arrives hash(node)-partitioned from its
      // aggregate, co-partitioned with the checkpointed `nodes` — the
      // shuffle_hash hint on it makes the damped join a build-small hash
      // join instead of a sort-merge (no exchange either way, but SMJ
      // re-sorted BOTH node-sized sides every round). Build side = the
      // per-partition slice of a node-sized table: sized like the rank
      // state itself, which the whole loop already holds per partition.
      def damped(contribs0: DataFrame, prevRanks: Option[DataFrame]): DataFrame = {
        val contribs = contribs0.hint("shuffle_hash")
        danglingNodes match {
          case None =>
            nodes.join(contribs, Seq("node"), "left")
              .select(col("node"),
                expr(s"((${100 - dampPct}L * $RankUnit + $dampPct * " +
                  "coalesce(contrib, 0L)) div 100)").as("rank_ppb"))
          case Some(dang) =>
            // one-row dangling-mass aggregate, crossed broadcast-style
            // (the repo's one-row crossJoin pattern); round 1 has the
            // constant init, so its share is a driver literal
            val withShare = prevRanks match {
              case None =>
                nodes.join(contribs, Seq("node"), "left")
                  .withColumn("_dm", lit(nDangling * RankUnit))
              case Some(pr) =>
                nodes.join(contribs, Seq("node"), "left")
                  .crossJoin(broadcast(
                    pr.join(dang.hint("shuffle_hash"), Seq("node"),
                        "left_semi")
                      .agg(coalesce(sum(col("rank_ppb")), lit(0L)).as("_dm"))))
            }
            withShare.select(col("node"),
              expr(s"((${100 - dampPct}L * $RankUnit + $dampPct * " +
                s"(coalesce(contrib, 0L) + (_dm div ${nNodes}L))) div 100)")
                .as("rank_ppb"))
        }
      }

      // round 1 needs no rank join: every rank is the constant R, so the
      // contribution is R div outdeg straight off the edge table — one
      // node-sized join stage fewer.
      var ranks = damped(eo
        .select(col("dst").as("node"),
          expr(s"$RankUnit div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("contrib")), None)
      var lastCkpt: DataFrame = null
      def ckptAndDiag(it: Int, prev: Option[DataFrame]): Unit = {
        // under redistribution every following round reads this round's
        // ranks TWICE (contribution join + the broadcast dangling-mass
        // aggregate), so uncheckpointed rounds double their upstream
        // recompute — the same compounding hits() measured at 20.0 s vs
        // 4.3 s. Eagerly materialize EVERY non-final round on that path
        // (node-sized pass), not just beyond the iters>3 cadence.
        val wantCkpt = deltaL1Out != null ||
          (redistributeDangling && it < iters) ||
          (iters > 3 && it < iters && it % checkpointEvery == 0)
        if (wantCkpt) ranks = NearDup.checkpointPartitioned(ranks)
        if (deltaL1Out != null) {
          val delta = prev match {
            case None => ranks
              .agg(coalesce(sum(abs(col("rank_ppb") - lit(RankUnit))), lit(0L)))
            case Some(pr) => ranks
              .join(pr.withColumnRenamed("rank_ppb", "_prev"), "node")
              .agg(coalesce(sum(abs(col("rank_ppb") - col("_prev"))), lit(0L)))
          }
          deltaL1Out += delta.first().getLong(0)
        }
        if (wantCkpt) {
          // prev's checkpoint blocks are dead once the delta (the only
          // consumer) has run
          if (lastCkpt != null) NearDup.releaseCheckpoint(lastCkpt)
          lastCkpt = ranks
        }
      }
      ckptAndDiag(1, None)
      for (it <- 2 to iters) {
        val prev = ranks
        // rank side hinted shuffle_hash: ranks are node-sized and arrive
        // hash(node→src)-partitioned, co-partitioned with the checkpointed
        // eo — a build-small hash join with no exchange and no sort (SMJ
        // here re-sorted the full edge table EVERY round; the round's one
        // unavoidable edge-sized shuffle stays the groupBy(dst) below)
        val contribs = eo
          .join(prev.withColumnRenamed("node", "src").hint("shuffle_hash"),
            "src")
          .select(col("dst").as("node"),
            expr("rank_ppb div outdeg").as("c"))
          .groupBy("node").agg(sum("c").as("contrib"))
        ranks = damped(contribs, Some(prev))
        ckptAndDiag(it, Some(prev))
      }
      // Materialize before releasing the loop invariants (the session-hygiene
      // rule: nothing this function persisted may outlive the call).
      val out = ranks.localCheckpoint(true)
      if (lastCkpt != null && !(lastCkpt eq out))
        NearDup.releaseCheckpoint(lastCkpt)
      out
    } finally {
      NearDup.releaseCheckpoint(eo)
      NearDup.releaseCheckpoint(nodes)
      danglingNodes.foreach(NearDup.releaseCheckpoint)
    }
  }

  /** Fixed-iteration HITS (hubs & authorities) — the second classic
    * link-analysis signal crawl-curation pipelines reach for after
    * [[pageRank]]: authority scores surface well-cited content hosts,
    * hub scores surface directory/aggregator hosts (both are standard
    * crawl-frontier quality features; Kleinberg, JACM 46(5), 1999).
    *
    * Same determinism contract as [[pageRank]]: ppb integer scores, BIGINT
    * floor arithmetic at every step, fixed iteration count — a pure
    * function of the edge set, replayed CTE-for-CTE by the DuckDB oracle.
    * Per round (all integer):
    * {{{
    *   auth_raw(v) = Σ_{(u,v) ∈ E} hub(u)        [round 1: hub ≡ R]
    *   auth(v)     = auth_raw(v) div max(1, max_v auth_raw div R)
    *   hub_raw(u)  = Σ_{(u,v) ∈ E} auth(v)
    *   hub(u)      = hub_raw(u) div max(1, max_u hub_raw div R)
    * }}}
    * The max-rescale replaces the float L2 normalization: it keeps scores
    * in [0, ~2R] ppb with the argmax pinned at ~R, needs only a one-row
    * aggregate (crossed broadcast-style — the repo's one-row crossJoin
    * pattern), and stays exactly replayable. Long-safety: a raw sum is
    * ≤ deg·2R, so the arithmetic holds to ~2e9 max in/out-degree — far
    * beyond any real host graph's degree — and since r8 the bound is a
    * LOUD runtime guard (`maxDegree`, one cheap degree pass over the
    * persisted edges); documented in SCALE.md.
    *
    * 100 TB shape: the edge list is the only data-scale table. It is
    * deduplicated behind one hash(dst) exchange and materialized as an
    * eager localCheckpoint (LogicalRDD — its partitioning is visible to
    * the planner, which an AQE-era InMemoryRelation's is not; measured
    * r13) — reused by every hub round with no exchange and no sort; a
    * second src-partitioned copy materializes only when auth rounds reuse
    * it (iters > 2). Each round pays exactly its one unavoidable groupBy
    * shuffle; the score tables are node-sized and join build-small
    * (shuffle_hash). Nothing collects to the driver. Returns
    * `(node, auth_ppb, hub_ppb)` for every node, zeros where a direction
    * has no edges.
    */
  def hits(edges: DataFrame, src: org.apache.spark.sql.Column,
           dst: org.apache.spark.sql.Column, iters: Int = 2,
           maxDegree: Long = Long.MaxValue / (4L * RankUnit)): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(maxDegree >= 1, s"maxDegree >= 1, got $maxDegree")
    // eByDst is the ONE always-materialized copy (it serves every hub
    // round); everything else — nodes, and the src partitioning — derives
    // from it, so the raw edge build + dedup runs exactly once, behind a
    // single full-edge exchange (hash(dst) satisfies the (src,dst)-dedup's
    // clustering requirement — the pageRank edge-prep shape and trade-off,
    // see there). Materialization is an EAGER localCheckpoint, not
    // persist: the LogicalRDD reports hash(dst) partitioning, so every
    // hub round's join reuses it with no exchange (under AQE an
    // InMemoryRelation reports unknown partitioning — measured r13: each
    // half-step re-exchanged and re-sorted the cached edges). The src
    // partitioning only earns its own materialized copy when reused (auth
    // rounds 2..iters, i.e. iters > 2); at iters <= 2 the single auth join
    // just reshuffles the checkpointed blocks.
    val eByDst = NearDup.checkpointPartitioned(edges
      .select(src.cast("string").as("src"), dst.cast("string").as("dst"))
      .na.drop().repartition(col("dst")).distinct())
    val reuseSrc = iters > 2
    val eBySrc =
      if (reuseSrc)
        NearDup.checkpointPartitioned(eByDst.repartition(col("src")))
      else eByDst
    val nodes = NearDup.checkpointPartitioned(
      eByDst.select(col("src").as("node"))
        .union(eByDst.select(col("dst").as("node"))).distinct())
    // every half-step's raw frame is eagerly checkpointed BEFORE the
    // rescale reads it twice (once for the one-row max, once under the
    // broadcast cross join): without the materialization the two readers
    // recompute the whole upstream plan, and since each half-step nests
    // the previous one the recomputation compounds ~2^(2·iters)
    // (measured: 20.0 s vs 4.3 s at iters=2 on the sf0.1 link graph).
    // The checkpoints are node-sized; all are released before returning.
    val halfSteps = scala.collection.mutable.Buffer.empty[DataFrame]
    try {
      // The Long-safety bound from the Scaladoc, promoted to a LOUD
      // runtime guarantee (the maxKeys house pattern): a raw half-step
      // sum is ≤ degree·2R, so both directions need max degree ≤
      // Long.MaxValue/(4R) (~2.3e9 at R = 1e9; the extra factor of 2 is
      // headroom for the rescale's ~2R score ceiling). One cheap
      // degree pass over the persisted edges — per-direction max via a
      // direction-tagged union, a single partial-agg shuffle — which
      // also warms the eByDst cache the loop reuses.
      val maxDeg = eByDst.select(col("dst").as("node"), lit("i").as("_d"))
        .union(eByDst.select(col("src").as("node"), lit("o").as("_d")))
        .groupBy(col("node"), col("_d")).agg(count(lit(1)).as("deg"))
        .agg(coalesce(max(col("deg")), lit(0L))).first().getLong(0)
      require(maxDeg <= maxDegree,
        s"hits: max in/out-degree $maxDeg exceeds maxDegree=$maxDegree — " +
          s"a half-step raw sum can overflow Long at R=$RankUnit ppb. " +
          "Shrink the rank unit (scores are scale-free), pre-aggregate " +
          "the graph, or raise maxDegree deliberately after checking the " +
          "bound (SCALE.md).")
      def rescale(raw0: DataFrame): DataFrame = {
        val raw = NearDup.checkpointPartitioned(raw0)
        halfSteps += raw
        // rescale so the argmax lands at ~R: raw div (max div R), floor at
        // every step (both engines; all values non-negative)
        raw.crossJoin(broadcast(raw.agg(max(col("raw")).as("_m"))))
          .select(col("node"),
            expr(s"raw div greatest(1L, _m div ${RankUnit}L)").as("score"))
      }

      // round 1's auth needs no join: hub is the constant R, so
      // auth_raw(v) = R * indeg(v) straight off the dst-partitioned edges
      // score sides hinted shuffle_hash: auth/hub are node-sized,
      // checkpointed hash(node) and co-partitioned with the edge table, so
      // each half-step join is a build-small hash join with no exchange
      // and no sort (SMJ re-sorted the full edge table per half-step)
      var auth = rescale(eByDst.groupBy(col("dst").as("node"))
        .agg((count(lit(1)) * RankUnit).as("raw")))
      var hub: DataFrame = null
      def hubRound(): Unit = {
        hub = rescale(eByDst
          .join(auth.withColumnRenamed("node", "dst").hint("shuffle_hash"),
            "dst")
          .groupBy(col("src").as("node")).agg(sum(col("score")).as("raw")))
      }
      hubRound()
      for (it <- 2 to iters) {
        auth = rescale(eBySrc
          .join(hub.withColumnRenamed("node", "src").hint("shuffle_hash"),
            "src")
          .groupBy(col("dst").as("node")).agg(sum(col("score")).as("raw")))
        hubRound()
        // lineage stays shallow by construction: each half-step reads only
        // the previous CHECKPOINTED raw, so no extra cadence is needed —
        // superseded half-steps (all but the final auth/hub raws) can be
        // released as soon as two newer ones exist
        if (halfSteps.length > 2) {
          halfSteps.dropRight(2).foreach(NearDup.releaseCheckpoint)
          halfSteps.remove(0, halfSteps.length - 2)
        }
      }
      val out = nodes
        .join(auth.withColumnRenamed("score", "auth_ppb")
          .hint("shuffle_hash"), Seq("node"), "left")
        .join(hub.withColumnRenamed("score", "hub_ppb")
          .hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("auth_ppb"), lit(0L)).as("auth_ppb"),
          coalesce(col("hub_ppb"), lit(0L)).as("hub_ppb"))
        // materialize before the persisted loop inputs are released (the
        // session-hygiene rule, same as pageRank)
        .localCheckpoint(true)
      out
    } finally {
      halfSteps.foreach(NearDup.releaseCheckpoint)
      if (reuseSrc) NearDup.releaseCheckpoint(eBySrc)
      NearDup.releaseCheckpoint(eByDst)
      NearDup.releaseCheckpoint(nodes)
    }
  }

  /** In/out degree table for a directed edge list — the cheap one-pass
    * centrality companion (degree is itself a common crawl-quality signal
    * and the sanity baseline for [[pageRank]]).
    * Returns `(node, out_deg, in_deg)` with zeros for absent directions.
    */
  def degrees(edges: DataFrame, src: org.apache.spark.sql.Column,
              dst: org.apache.spark.sql.Column): DataFrame = {
    val e = edges.select(src.cast("string").as("src"), dst.cast("string").as("dst"))
      .na.drop().distinct()
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
