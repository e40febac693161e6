package graft

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerBus
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType}

import graft.operators.PageRank

/** PageRank's node-side kernel (per-source contribution as an
  * unscaled long, long sum on `dst`) against the per-edge formula it
  * replaces: ranks must be BIT-identical on every graph shape the
  * registry feeds it, on both executions — the driver vector and the
  * shuffle joins a graph past the broadcast budget takes. */
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

  /** Both executions of the kernel: broadcast on, the driver vector
    * under the session's default budget; broadcast off (−1), the
    * shuffle joins a graph past the budget takes. The second element
    * is the threshold to set (None: leave the default). */
  private val paths = Seq("broadcast on" -> None, "broadcast off" -> Some(-1L))

  /** Name suffix of a both-path test: none for the default path. */
  private def on(budget: Option[Long]): String =
    if (budget.isEmpty) "" else " (broadcast off)"

  /** Jobs started and stages that wrote shuffle output while `f` ran. */
  private def census[A](f: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val jobs, shuffleStages = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffleStages.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      ListenerBus.drain(sc)
      (a, jobs.get, shuffleStages.get)
    } finally sc.removeSparkListener(l)
  }

  for (seed <- Seq(1L, 7L, 42L); (path, budget) <- paths) {
    test(s"bit-identical to the per-edge reference (seed $seed, $path)") {
      val edges = shapedGraph(seed).toDF("src", "dst")
      val got = withBudget(budget)(
        PageRank.run(edges, "src", "dst", iters = 5))
      assert(got.columns.toSeq === Seq("node", "rank"))
      val want = bits(perEdge(edges, iters = 5))
      assert(want.nonEmpty)
      assert(bits(got) === want)
    }
  }

  for ((_, budget) <- paths) {
    test(s"bit-identical to the per-edge reference on q100's edge shape${on(budget)}") {
      val li = Tables.table(spark, sf0001, "lineitem")
        .select($"l_orderkey", $"l_suppkey")
      val ords = Tables.table(spark, sf0001, "orders")
        .select($"o_orderkey", $"o_custkey")
      val pairs = li.join(ords, $"l_orderkey" === $"o_orderkey")
        .select($"o_custkey".as("cust"), ($"l_suppkey" + 1000000L).as("supp"))
      val edges = pairs.select($"cust".as("src"), $"supp".as("dst"))
        .union(pairs.select($"supp".as("src"), $"cust".as("dst")))
      assert(bits(withBudget(budget)(PageRank.run(edges, "src", "dst",
        iters = 3))) === bits(perEdge(edges, iters = 3)))
    }

    test(s"an empty edge list returns an empty (node, rank) frame${on(budget)}") {
      val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
      val got = withBudget(budget)(PageRank.run(edges, "src", "dst", iters = 3))
      assert(got.columns.toSeq === Seq("node", "rank"))
      assert(got.count() === 0)
    }

    test(s"iters = 0 returns the uniform 1/N vector${on(budget)}") {
      val edges = shapedGraph(5L).toDF("src", "dst")
      val n = edges.select($"src".as("v")).union(edges.select($"dst"))
        .distinct().count()
      val got = withBudget(budget)(PageRank.run(edges, "src", "dst", iters = 0))
      assert(got.count() === n)
      assert(got.select($"rank").as[Double].collect().toSet === Set(1.0 / n))
    }

    test(s"int ids keep IntegerType and rank as long ids do${on(budget)}") {
      val g = shapedGraph(11L)
      val ints = g.map { case (s, d) => (s.toInt, d.toInt) }.toDF("src", "dst")
      val got = withBudget(budget)(PageRank.run(ints, "src", "dst", iters = 4))
      assert(got.schema("node").dataType === IntegerType)
      assert(bits(got) === bits(PageRank.run(g.toDF("src", "dst"), "src",
        "dst", iters = 4)))
    }
  }

  test("null endpoints rank the same on both paths") {
    val g = shapedGraph(13L).map { case (s, d) =>
      (Option(s), Option(d)) } ++ Seq((None, Some(3L)), (Some(4L), None),
      (Some(4L), None), (None, None), (Some(600L), None))
    val edges = g.toDF("src", "dst")
    def rows(df: DataFrame) =
      df.as[(Option[Long], Double)].collect()
        .map { case (v, r) => v -> java.lang.Double.doubleToRawLongBits(r) }
        .sorted.toSeq
    val Seq(driver, shuffle) = paths.map { case (_, budget) =>
      rows(withBudget(budget)(PageRank.run(edges, "src", "dst", iters = 4)))
    }
    assert(driver.exists(_._1.isEmpty))
    assert(driver === shuffle)
  }

  test("a tiny budget sends a multi-partition graph down the shuffle path") {
    val edges = shapedGraph(17L).toDF("src", "dst").repartition(4)
    def shuffleStages(iters: Int) = withBudget(Some(64L))(
      census(PageRank.run(edges, "src", "dst", iters))._3)
    assert(shuffleStages(3) > shuffleStages(1),
      "the shuffle path shuffles in every iteration")
    assert(bits(withBudget(Some(64L))(PageRank.run(edges, "src", "dst",
      iters = 3))) === bits(perEdge(edges, iters = 3)))
  }

  test("each driver-vector iteration is one job with no shuffle") {
    val edges = shapedGraph(19L).toDF("src", "dst").repartition(4)
    val (_, j1, s1) = census(PageRank.run(edges, "src", "dst", iters = 1))
    val (_, j4, s4) = census(PageRank.run(edges, "src", "dst", iters = 4))
    assert(j4 - j1 === 3, s"jobs: $j1 for one iteration, $j4 for four")
    assert(s4 === s1, "no shuffle inside the iterations")
  }

  test("the driver vector leaves nothing cached") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val got = PageRank.run(shapedGraph(23L).toDF("src", "dst"), "src",
      "dst", iters = 3)
    assert(sc.getPersistentRDDs.keySet === before)
    assert(got.count() > 0)
    assert(sc.getPersistentRDDs.keySet === before)
  }

  test("the iteration keeps decimal casts and degrees off the edge list") {
    val g = PageRank.graph(
      PageRank.edgeList(shapedGraph(3L).toDF("src", "dst"), "src", "dst"))
    assert(g.e.columns.toSeq === Seq("src", "dst"),
      "the checkpointed edge list carries only (src, dst)")
    val plan = PageRank.step(g, g.nodes.withColumn("rank", lit(1.0 / g.n)),
      damping = 0.85)
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
