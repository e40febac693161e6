package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fixed-iteration PageRank (Page et al. 1999) over an edge list —
  * the canonical iterative graph operator, rendered as the Pregel
  * shape Spark runs well: per iteration ONE join of the per-source
  * contribution vector to the edge list on `src` and ONE aggregate on
  * `dst`. Both shuffles are on graph keys, partial-aggregable, and
  * the rank vector never leaves the cluster — the 100 TB web-graph
  * shape.
  *
  * Engine-reproducible by construction (the q100 oracle replays every
  * iteration): a source's contribution is `CAST(rank/deg AS
  * DECIMAL(28,15))` — the division in DOUBLE (IEEE division is
  * correctly rounded, bit-identical on any engine), the cast to a
  * fixed 15-digit grid; the cross-edge SUM of those grid values is
  * exact and order-independent (a parallel double sum would differ
  * run to run), and the damping update is the same double expression
  * on both sides. Simplification vs the paper, documented:
  * dangling-node mass is dropped rather than redistributed (ranks
  * then sum to < 1; relative order — the thing consumers rank by — is
  * unaffected for the retained nodes).
  *
  * Node-side kernel: the contribution depends on the source only, so
  * the division and the decimal cast run once per NODE, on the rank
  * vector, and travel as the cast value's unscaled long (c × 10¹⁵).
  * The edge list then only routes longs: `e ⋈ c → groupBy(dst).sum`.
  * The long sum is the decimal sum exactly — every addend sits on the
  * same 10⁻¹⁵ grid — and cannot overflow: a node's sum is at most the
  * total rank mass (≤ 1 plus one grid step per edge of rounding), so
  * ~10¹⁵ ≪ Long.MaxValue (and ANSI arithmetic would throw, not wrap).
  * Converting back goes through the exact decimal, so the double the
  * damping update reads is the one the per-edge decimal sum yields.
  *
  * Edges are deduplicated to a simple directed graph first; node set =
  * sources ∪ destinations.
  */
object PageRank {

  /** 10¹⁵ and 10⁻¹⁵ as exact decimal literals: the DECIMAL(28,15)
    * grid of a contribution, to and from its unscaled long. */
  private val toGrid = lit(BigDecimal("1000000000000000"))
  private val fromGrid = lit(BigDecimal("0.000000000000001"))

  /** The loop invariants: the deduplicated `(src, dst)` edge list, the
    * node set with each node's out-degree (`deg`, 0 for a node that
    * is only ever a destination), and the node count. */
  private[graft] final case class Graph(e: DataFrame, nodes: DataFrame,
      n: Long)

  /** localCheckpoint: the edge list and the node set are loop
    * INVARIANTS referenced by every iteration — without pinning them
    * the lazy plan re-derives the upstream joins/distincts once per
    * iteration (measured 5.1 s → the edge build dominating three
    * trivial iterations at bench scale). At cluster scale these are
    * the adjacency structures any Pregel runtime materializes once. */
  private[graft] def graph(edges: DataFrame, src: String,
      dst: String): Graph = {
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .distinct().localCheckpoint()
    // nodes and out-degrees in ONE node-keyed aggregate: each distinct
    // edge counts 1 for its source and 0 for its destination
    val nodes = e.select(col("src").as("node"), lit(1L).as("out"))
      .union(e.select(col("dst").as("node"), lit(0L).as("out")))
      .groupBy(col("node")).agg(sum(col("out")).as("deg"))
      .localCheckpoint()
    // bounded collect: ONE long (the node count) for the 1/N literals
    Graph(e, nodes, nodes.count())
  }

  /** One damped iteration: (node, deg, rank) → (node, deg, rank).
    * Un-pinned, so a caller can inspect the iteration plan.
    *
    * The contribution vector and the contribution aggregate are both
    * |V| rows (≪ |E|) — each is broadcast into its join under a
    * MEASURED size gate (`n`, the triangle-kernel discipline), which
    * keeps each iteration at ONE exchange (the dst aggregate). Past
    * the cutoff (a 100 TB web graph's rank vector) the joins shuffle
    * instead — same longs, and the long sum is order-independent, so
    * the result is bit-identical on every path. */
  private[graft] def step(g: Graph, ranks: DataFrame, damping: Double,
      bcastRanks: Boolean, bcastContribs: Boolean): DataFrame = {
    val vSmall = g.n <= 2000000L
    // per source: divide in double (correctly rounded), cast to the
    // decimal grid, carry the unscaled long. deg = 0 nodes route no
    // edges, and under ANSI their division would throw.
    val c = ranks.filter(col("deg") > 0)
      .select(col("node").as("src"),
        ((col("rank") / col("deg")).cast(DecimalType(28, 15)) * toGrid)
          .cast("long").as("c"))
    val contribs = g.e
      .join(if (vSmall && bcastRanks) broadcast(c) else c, "src")
      .groupBy(col("dst").as("node"))
      // exact: sum × 10⁻¹⁵ is the decimal sum the grid values make
      .agg((sum(col("c")).cast(DecimalType(19, 0)) * fromGrid)
        .cast("double").as("contrib"))
    g.nodes
      .join(if (vSmall && bcastContribs) broadcast(contribs) else contribs,
        Seq("node"), "left")
      .select(col("node"), col("deg"),
        (lit((1.0 - damping) / g.n) +
          lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
  }

  /** Ranks after `iters` damped iterations from the uniform 1/N
    * start. Output: (node, rank).
    *
    * @param bcastRanks broadcast the per-source contribution vector
    *   into the per-iteration edge join (under the measured size
    *   gate); false = shuffle join. Exposed for the PerfAB probe —
    *   results are bit-identical on every path (the fixed-point
    *   cross-edge sum is order-independent), only the join strategy
    *   changes.
    * @param bcastContribs same for the contribution aggregate in the
    *   rank-update join. */
  def run(edges: DataFrame, src: String, dst: String, iters: Int,
      damping: Double = 0.85, bcastRanks: Boolean = true,
      bcastContribs: Boolean = true): DataFrame = {
    val g = graph(edges, src, dst)
    // the same double division Spark would run, done here in Scala: an
    // empty graph (n = 0) then plans no ANSI divide-by-zero
    var ranks = g.nodes.withColumn("rank", lit(1.0 / g.n))
    for (_ <- 0 until iters) {
      // pin each iteration: without this the final plan NESTS every
      // prior iteration (iteration k re-derives k-1, k-2, …), and at
      // ×50 data the mega-plan's concurrent join builds + aggregate
      // maps exhausted the executor pool (AGGREGATE_OUT_OF_MEMORY —
      // caught by the first full-suite ×50 sweep). The rank vector
      // is node-sized (≪ edges), so the checkpoint is cheap and
      // makes per-iteration memory FLAT — the property an iterative
      // operator needs at any scale.
      ranks = step(g, ranks, damping, bcastRanks, bcastContribs)
        .localCheckpoint()
    }
    ranks.select(col("node"), col("rank"))
  }
}
