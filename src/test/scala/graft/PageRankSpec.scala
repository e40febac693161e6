package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.operators.PageRank

/** PageRank's node-side kernel (per-source contribution as an
  * unscaled long, long sum on `dst`) against the per-edge formula it
  * replaces: ranks must be BIT-identical on every graph shape the
  * registry feeds it, on both join strategies. */
class PageRankSpec extends SparkSuite {
  import spark.implicits._

  /** The per-edge reference: the out-degree rides a degree-annotated
    * edge list, every edge divides `rank/deg` and casts to
    * DECIMAL(28,15), and the cross-edge sum folds in decimal — the
    * formula the q100 oracle replays. */
  private def perEdge(edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame = {
    val e = edges.select($"src", $"dst").distinct()
    val nodes = e.select($"src".as("node"))
      .union(e.select($"dst".as("node"))).distinct()
    val n = nodes.count()
    val eDeg = e.join(e.groupBy($"src").agg(count(lit(1)).as("deg")), "src")
    var ranks = nodes.withColumn("rank", lit(1.0) / n)
    for (_ <- 0 until iters) {
      val contribs = eDeg
        .join(ranks, eDeg("src") === ranks("node"))
        .select($"dst".as("node"),
          ($"rank" / $"deg").cast("decimal(28,15)").as("c"))
        .groupBy($"node")
        .agg(sum($"c").cast("double").as("contrib"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select($"node",
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce($"contrib", lit(0.0))).as("rank"))
        .localCheckpoint()
    }
    ranks
  }

  /** (node, raw IEEE bits of rank), sorted — bit-identity, not ==. */
  private def bits(df: DataFrame): Seq[(Long, Long)] =
    df.select($"node".cast("long"), $"rank").as[(Long, Double)].collect()
      .map { case (v, r) => v -> java.lang.Double.doubleToRawLongBits(r) }
      .sorted.toSeq

  /** Seeded random directed graph exercising every degenerate shape:
    * duplicate edges, self-loops, dangling sources (out-edges but no
    * in-edges), dst-only nodes (no out-edges) and an isolated
    * component. */
  private def shapedGraph(seed: Long): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val core = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val dups = core.take(60)
    val loops = (0L until 5L).map(v => (v, v))
    val danglingSources = (100L until 105L)
      .flatMap(s => Seq.fill(3)((s, rnd.nextInt(40).toLong)))
    val dstOnly = (200L until 208L).map(d => (rnd.nextInt(40).toLong, d))
    val island = Seq((500L, 501L), (501L, 502L), (502L, 500L), (502L, 503L))
    rnd.shuffle(core ++ dups ++ loops ++ danglingSources ++ dstOnly ++ island)
  }

  for (seed <- Seq(1L, 7L, 42L); bcast <- Seq(true, false)) {
    test(s"bit-identical to the per-edge reference (seed $seed, " +
        s"broadcast ${if (bcast) "on" else "off"})") {
      val edges = shapedGraph(seed).toDF("src", "dst")
      val got = PageRank.run(edges, "src", "dst", iters = 5,
        bcastRanks = bcast, bcastContribs = bcast)
      assert(got.columns.toSeq === Seq("node", "rank"))
      val want = bits(perEdge(edges, iters = 5))
      assert(want.nonEmpty)
      assert(bits(got) === want)
    }
  }

  test("bit-identical to the per-edge reference on q100's edge shape") {
    val li = Tables.table(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_suppkey")
    val ords = Tables.table(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_custkey")
    val pairs = li.join(ords, $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("cust"), ($"l_suppkey" + 1000000L).as("supp"))
    val edges = pairs.select($"cust".as("src"), $"supp".as("dst"))
      .union(pairs.select($"supp".as("src"), $"cust".as("dst")))
    assert(bits(PageRank.run(edges, "src", "dst", iters = 3)) ===
      bits(perEdge(edges, iters = 3)))
  }

  test("an empty edge list returns an empty (node, rank) frame") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val got = PageRank.run(edges, "src", "dst", iters = 3)
    assert(got.columns.toSeq === Seq("node", "rank"))
    assert(got.count() === 0)
  }

  test("the iteration keeps decimal casts and degrees off the edge list") {
    val g = PageRank.graph(shapedGraph(3L).toDF("src", "dst"), "src", "dst")
    assert(g.e.columns.toSeq === Seq("src", "dst"),
      "the checkpointed edge list carries only (src, dst)")
    val plan = PageRank.step(g, g.nodes.withColumn("rank", lit(1.0 / g.n)),
      damping = 0.85, bcastRanks = true, bcastContribs = true)
      .queryExecution.optimizedPlan
    def scansEdges(p: LogicalPlan): Boolean = p.exists {
      case r: LogicalRDD => r.output.map(_.name) == Seq("src", "dst")
      case _ => false
    }
    assert(scansEdges(plan))
    // the per-source contribution cast (double → decimal) runs only in
    // operators whose input is node-sized, never over edge rows
    val castOps = plan.collect {
      case p if p.expressions.exists(_.exists {
        case c: Cast => c.child.dataType == DoubleType &&
          c.dataType.isInstanceOf[DecimalType]
        case _ => false
      }) => p
    }
    assert(castOps.nonEmpty, plan.toString)
    assert(!castOps.exists(scansEdges),
      s"per-edge decimal cast in the iteration plan:\n$plan")
    // two joins: edges ⋈ contributions, nodes ⋈ contribution sums — no
    // degree join onto the edge list
    val joins = plan.collect { case j: Join => j }
    assert(joins.size === 2, plan.toString)
  }
}
