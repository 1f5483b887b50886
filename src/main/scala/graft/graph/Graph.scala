package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Distributed link-graph analytics for crawl-quality weighting.
  *
  * A web-scale training corpus carries an implicit hyperlink graph, and
  * the standard curation pipelines (Common Crawl -> C4/RefinedWeb-style)
  * weight documents by the authority of their host — PageRank over the
  * host graph is the classic signal (Brin & Page 1998; used as a quality
  * prior in e.g. CCNet's head/middle/tail split). This module gives the
  * engine that capability as exact, oracle-checkable integer arithmetic:
  *
  *  - ranks are kept in integer micro-units (1e6 = the uniform start
  *    mass), every per-edge contribution is a truncated integer division
  *    `rank div outdeg`, and the damping step is
  *    `teleport + (damping * sum) div 1000` — all order-independent
  *    integer ops, so the result is bit-identical across engines,
  *    layouts, and partition counts (the same device as the suite's
  *    micro-nat LM scores);
  *  - the iteration is a fixed unrolled depth, so a DuckDB oracle
  *    replays it as K chained CTEs.
  *
  * Scale shape (the [[graft.dedup.Dedup.connectedComponents]] contract):
  * the degree-annotated edge list is persisted ONCE and reused across
  * rounds; each round is one shuffle on `src` (edges join ranks — both
  * sides hash-partition on the node id) plus one hash aggregation on
  * `dst` with map-side partials; every round is checkpointed so the
  * logical plan stays constant-size at any K (lineage otherwise grows
  * with the iteration count), and the superseded round's storage is
  * released explicitly rather than waiting on the ContextCleaner.
  */
object Graph {

  /** Deterministic synthetic link graph over a dense id column: two
    * "hub" edges toward low ids (`id div 2`, `id div 4` — the tree shape
    * that gives real hosts their power-law in-degree; a pure modular map
    * would be a bijection and make PageRank uniform, i.e. vacuous) plus
    * one modular long-range edge for connectivity. Stand-in for the
    * crawl's real (src_host, dst_host) edge extraction — the graph shape
    * (multi-edges collapse via DISTINCT, self-loops allowed, skewed
    * in-degree, variable out-degree 1..3 after the collapse) matches
    * what a host-graph build emits, and the arithmetic form replays
    * exactly in SQL. `n` is a bounded 1-row scalar aggregate (the
    * Windows.scala cardinality-probe precedent).
    */
  def syntheticLinkGraph(docs: DataFrame, id: String = "doc_id"): DataFrame = {
    val n = docs.agg(max(col(id))).head().getLong(0) + 1L
    val targets: Seq[Column] = Seq(
      expr(s"$id div 2"),
      expr(s"$id div 4"),
      (col(id) * lit(131L) + lit(7919L)) % lit(n))
    docs.select(col(id).as("src"), explode(array(targets: _*)).as("dst"))
      .distinct()
  }

  /** Integer-exact PageRank. `edges` = (src, dst) distinct directed
    * edges; `nodes` = one `node` row per vertex (dangling nodes — no
    * out-edges — contribute nothing, matching the plain power-iteration
    * form; every node still receives the teleport mass each round).
    * Returns (node, rank_micro) after `iterations` rounds from the
    * uniform start of `microScale` per node. `damping` is in permille
    * (850 = the canonical 0.85).
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, iterations: Int = 4,
               microScale: Long = 1000000L, damping: Int = 850): DataFrame = {
    require(iterations >= 1, s"pageRank: iterations $iterations < 1")
    require(damping >= 0 && damping <= 1000, s"pageRank: damping $damping not in [0,1000]")
    val teleport = microScale * (1000L - damping) / 1000L

    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // one persisted degree-annotated edge list, reused every round
    val e = edges.join(deg, Seq("src"))
      .select(col("src"), col("dst"), col("outdeg"))
      .persist(MEMORY_AND_DISK)
    val nEdges = e.count() // force once, before round-1 plans race to build it twice
    val base = nodes.select(col("node")).withColumn("tp", lit(teleport))
    iterate(e, nEdges, base, iterations, microScale, damping)
  }

  /** Personalized PageRank (the crawl-frontier / seed-quality variant:
    * teleport mass flows ONLY to the seed set, so ranks measure
    * proximity to the seeds — the trusted-domain prior). The total
    * teleport mass of the uniform variant redistributes equally over
    * the seeds in integer units: `tp(v) = (teleport · N) div |S|` for
    * seeds, 0 elsewhere. Same integer-exact round, same checkpoint
    * contract.
    */
  def personalizedPageRank(edges: DataFrame, nodes: DataFrame, seeds: DataFrame,
                           iterations: Int = 4, microScale: Long = 1000000L,
                           damping: Int = 850): DataFrame = {
    require(iterations >= 1, s"personalizedPageRank: iterations $iterations < 1")
    val teleport = microScale * (1000L - damping) / 1000L
    // bounded 1-row scalar probes (the cardinality-probe precedent);
    // the seed count and the join side must agree on DISTINCT seeds
    val distinctSeeds = seeds.select(col("node")).distinct()
    val nNodes = nodes.count()
    val nSeeds = distinctSeeds.count()
    require(nSeeds > 0, "personalizedPageRank: empty seed set")
    val perSeed = teleport * nNodes / nSeeds
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val e = edges.join(deg, Seq("src"))
      .select(col("src"), col("dst"), col("outdeg"))
      .persist(MEMORY_AND_DISK)
    val nEdges = e.count()
    // distinct: a duplicated seed row would otherwise FAN OUT the base
    // left join and double-count that node every round
    val base = nodes.select(col("node"))
      .join(distinctSeeds.withColumn("_s", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("_s").isNotNull, lit(perSeed)).otherwise(lit(0L)).as("tp"))
    iterate(e, nEdges, base, iterations, microScale, damping)
  }

  /** The shared checkpointed power-iteration loop over a degree-
    * annotated PERSISTED edge list of `nEdges` edges (which sizes the
    * loop width, see [[RoundLoop]]) and a (node, tp) teleport frame.
    *
    * Rounds are checkpointed every `ckptEvery = 8` iterations plus once
    * at the END (r18 optimization, guide §1.2 "remove unnecessary
    * passes"): [[pageRankRound]] references the previous round's frame
    * exactly ONCE, so lineage between checkpoints grows linearly and a
    * bounded stretch of rounds executes as ONE job instead of one eager
    * materialization job per round (at the default K = 4 the whole loop
    * is a single job; measured at sf0.1 the g_pagerank family drops
    * ~25-40%). At any K the plan stays ≤ ckptEvery rounds deep — the
    * constant-size-at-any-K contract keeps holding, with a bounded
    * constant instead of 1. The final round is always materialized so
    * the edge unpersist below can never force a re-derivation.
    */
  private def iterate(e: DataFrame, nEdges: Long, base: DataFrame, iterations: Int,
                      microScale: Long, damping: Int): DataFrame =
    try RoundLoop(e.sparkSession, nEdges, eagerLocal = true) { loop =>
      var ranks = base.select(col("node"), lit(microScale).as("r"))
      for (i <- 1 to iterations)
        ranks = loop.round(i, i == iterations, ckptEvery = 8,
          pageRankRound(e, base, ranks, damping))
      ranks.select(col("node"), col("r").as("rank_micro"))
    } finally e.unpersist(blocking = false)

  /** Synchronous label-propagation communities (Raghavan et al. 2007,
    * the DETERMINISTIC variant: no random visit order, no random
    * tie-break — every node simultaneously adopts the most frequent
    * label among its neighbors from the PREVIOUS round, ties to the
    * MINIMUM label, isolated nodes keep their own): fixed K rounds over
    * the undirected view of the edge list, so the result is exact and
    * oracle-replayable. Communities differ from connected components —
    * a sparse bridge between two dense regions does not merge them.
    *
    * Scale shape: the persisted undirected edge list is reused every
    * round; each round = one shuffle joining labels to edges + one
    * two-level hash aggregation (count per (node, label), then argmax
    * via max(struct)) + a zero-fill left join on the vertex set; same
    * per-round checkpoint + release contract as [[pageRank]], so the
    * plan stays constant-size at any K.
    */
  def labelPropagation(edges: DataFrame, nodes: DataFrame,
                       iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"labelPropagation: iterations $iterations < 1")
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(edges.select(col("dst").as("a"), col("src").as("b")))
      .where(col("a") =!= col("b")).distinct()
      .persist(MEMORY_AND_DISK)
    val nEdges = und.count() // force once, before round-1 plans race to build it twice
    val base = nodes.select(col("node"))
    // labels is referenced TWICE per round (the neighbor join and the
    // zero-fill join), so an un-checkpointed round would RE-EXECUTE the
    // previous round's work once per reference — measured at sf0.1,
    // ckptEvery = 2 made g_lpa ~25% SLOWER (1.5 → 1.9 s; the duplicated
    // recompute costs more than the saved materialization), unlike
    // pageRank's single-reference round. Per-round checkpointing is the
    // right call here; ckptEvery stays 1 deliberately (r18 optimization
    // audit).
    try RoundLoop(base.sparkSession, nEdges, eagerLocal = true) { loop =>
      var labels = base.select(col("node"), col("node").as("label"))
      for (i <- 1 to iterations) {
        // argmax by (count, min label): max(struct(c, -label)) picks the
        // highest count, then the LEAST label (ids are non-negative, so
        // negation orders them in reverse) — the deterministic tie rule
        val win = und.join(labels, und("b") === labels("node"))
          .groupBy(col("a"), col("label")).agg(count(lit(1)).as("c"))
          .groupBy(col("a"))
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("w"))
          .select(col("a").as("node"), (-col("w.nl")).as("winner"))
        val next = labels.join(win, Seq("node"), "left")
          .select(col("node"), coalesce(col("winner"), col("label")).as("label"))
        labels = loop.round(i, i == iterations, ckptEvery = 1, next)
      }
      labels.select(col("node"), col("label").as("community"))
    } finally und.unpersist(blocking = false)
  }

  /** One power-iteration round — exposed at package scope so PlanSpec
    * can pin its physical shape (the loop checkpoints each round, so
    * the query-level executed plan is just the final scan): one
    * id-hash shuffle for edges⋈ranks, one map-side-combinable hash
    * aggregation on dst, one zero-fill left join on the vertex set.
    */
  private[graft] def pageRankRound(e: DataFrame, base: DataFrame,
                                   ranks: DataFrame, damping: Int): DataFrame = {
    val contrib = e.join(ranks, e("src") === ranks("node"))
      .select(col("dst").as("node"), expr("r div outdeg").as("c"))
    val inMass = contrib.groupBy("node").agg(sum("c").as("s"))
    base.join(inMass, Seq("node"), "left")
      .select(col("node"),
        (col("tp") + expr(s"($damping * coalesce(s, 0L)) div 1000")).as("r"))
  }

  /** Per-node degree profile over a directed edge list: (node, outdeg,
    * indeg), zero-filled from the vertex set — two hash aggregations and
    * two left joins on the node id, all map-side-combinable.
    */
  def degrees(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val outd = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
    val ind = edges.groupBy(col("dst").as("node")).agg(count(lit(1)).as("indeg"))
    nodes.select(col("node"))
      .join(outd, Seq("node"), "left")
      .join(ind, Seq("node"), "left")
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        coalesce(col("indeg"), lit(0L)).as("indeg"))
  }
}
