package graft.operators

import java.util.Arrays

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Fixed-iteration PageRank (Page et al. 1999) over an edge list —
  * the canonical iterative graph operator, in two executions of one
  * formula:
  *
  *  - Driver vector (every graph whose node vector fits the broadcast
  *    budget, `spark.sql.autoBroadcastJoinThreshold` bytes at 8 bytes
  *    a node): ranks live on the driver as an `Array[Double]`, and the
  *    distinct edge list is cached once as per-partition primitive
  *    arrays of node indices. Each iteration is ONE Spark job with no
  *    shuffle and no SQL execution: broadcast the per-node
  *    contribution longs, every task adds `c(src)` into a `long[n]`
  *    accumulator at `dst`, `treeAggregate` sums the accumulators, and
  *    the driver applies the damping update. The work per iteration is
  *    O(|E|) on the executors and O(|V|) on the driver; no per-
  *    iteration query planning, exchange or checkpoint.
  *  - Shuffle joins (past the budget, or a non-integral node type):
  *    the Pregel shape, per iteration one join of the per-source
  *    contribution vector to the edge list on `src` and one aggregate
  *    on `dst`, each iteration pinned by `localCheckpoint`.
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
  * the division and the decimal cast run once per NODE, and travel as
  * the cast value's unscaled long (c × 10¹⁵). The edge list then only
  * routes longs. The long sum is the decimal sum exactly — every
  * addend sits on the same 10⁻¹⁵ grid — and cannot overflow: a node's
  * sum is at most the total rank mass (≤ 1 plus one grid step per edge
  * of rounding), so ~10¹⁵ ≪ Long.MaxValue (and both paths throw
  * rather than wrap: ANSI `sum` on one, `Math.addExact` on the other).
  * Converting back goes through the exact decimal, so the double the
  * damping update reads is the one the per-edge decimal sum yields.
  * Both paths evaluate the same Catalyst expressions (`contribution`,
  * `damped`): the driver analyzes them once per run into projections,
  * so the answers are bit-identical on either path.
  *
  * Edges are deduplicated to a simple directed graph first; node set =
  * sources ∪ destinations. A null endpoint is a node that routes
  * nothing and receives nothing (SQL equi-join semantics), on both
  * paths.
  */
object PageRank {

  /** 10¹⁵ and 10⁻¹⁵ as exact decimal literals: the DECIMAL(28,15)
    * grid of a contribution, to and from its unscaled long. */
  private val toGrid = lit(BigDecimal("1000000000000000"))
  private val fromGrid = lit(BigDecimal("0.000000000000001"))

  /** A source's contribution: divide in double (correctly rounded),
    * cast to the decimal grid, carry the unscaled long. */
  private def contribution(rank: Column, deg: Column): Column =
    ((rank / deg).cast(DecimalType(28, 15)) * toGrid).cast("long")

  /** A node's next rank from `s`, the long sum of its in-edge
    * contributions (null: no in-edge). Exact: s × 10⁻¹⁵ is the decimal
    * sum the grid values make. */
  private def damped(s: Column, damping: Double, n: Long): Column =
    lit((1.0 - damping) / n) + lit(damping) *
      coalesce((s.cast(DecimalType(19, 0)) * fromGrid).cast("double"),
        lit(0.0))

  /** The loop invariants of the shuffle path: the deduplicated
    * `(src, dst)` edge list, the node set with each node's out-degree
    * (`deg`, 0 for a node that is only ever a destination), and the
    * node count. */
  private[graft] final case class Graph(e: DataFrame, nodes: DataFrame,
      n: Long)

  /** The deduplicated `(src, dst)` edge list, both endpoints in the
    * node type (the type a union of the two columns widens to). */
  private[graft] def edgeList(edges: DataFrame, src: String,
      dst: String): DataFrame = {
    val t = edges.select(col(src)).union(edges.select(col(dst)))
      .schema.head.dataType
    edges.select(col(src).cast(t).as("src"), col(dst).cast(t).as("dst"))
      .distinct()
  }

  /** localCheckpoint: the edge list and the node set are loop
    * INVARIANTS referenced by every iteration — without pinning them
    * the lazy plan re-derives the upstream joins/distincts once per
    * iteration (measured 5.1 s → the edge build dominating three
    * trivial iterations at bench scale). At cluster scale these are
    * the adjacency structures any Pregel runtime materializes once. */
  private[graft] def graph(edgeList: DataFrame): Graph = {
    val e = edgeList.localCheckpoint()
    // nodes and out-degrees in ONE node-keyed aggregate: each distinct
    // edge counts 1 for its source and 0 for its destination
    val nodes = e.select(col("src").as("node"), lit(1L).as("out"))
      .union(e.select(col("dst").as("node"), lit(0L).as("out")))
      .groupBy(col("node")).agg(sum(col("out")).as("deg"))
      .localCheckpoint()
    // bounded collect: ONE long (the node count) for the 1/N literals
    Graph(e, nodes, nodes.count())
  }

  /** One damped iteration of the shuffle path: (node, deg, rank) →
    * (node, deg, rank). Un-pinned, so a caller can inspect the
    * iteration plan. Past the broadcast budget the contribution vector
    * is too big to broadcast by definition, so both joins are left to
    * the planner's statistics. deg = 0 nodes route no edges, and under
    * ANSI their division would throw. */
  private[graft] def step(g: Graph, ranks: DataFrame,
      damping: Double): DataFrame = {
    val c = ranks.filter(col("deg") > 0)
      .select(col("node").as("src"),
        contribution(col("rank"), col("deg")).as("c"))
    val sums = g.e.join(c, "src")
      .groupBy(col("dst").as("node")).agg(sum(col("c")).as("s"))
    g.nodes.join(sums, Seq("node"), "left")
      .select(col("node"), col("deg"),
        damped(col("s"), damping, g.n).as("rank"))
  }

  /** Ranks after `iters` damped iterations from the uniform 1/N
    * start. Output: (node, rank), node in the input's id type.
    *
    * The driver path is taken when the node vector fits
    * `spark.sql.autoBroadcastJoinThreshold` (8 bytes a node), decided
    * from an upper bound before anything O(n) is collected: the sum of
    * each edge partition's local distinct-node count. A threshold of
    * −1, or a non-integral node type, takes the shuffle path. Both
    * paths read the same deduplicated edge list, so a graph past the
    * budget reuses the distinct's shuffle output. */
  def run(edges: DataFrame, src: String, dst: String, iters: Int,
      damping: Double = 0.85): DataFrame = {
    val e = edgeList(edges, src, dst)
    val dense = e.schema.head.dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        new DriverVector(e).run(iters, damping)
      case _ => None
    }
    dense.getOrElse(shuffled(e, iters, damping))
  }

  private def shuffled(e: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    val g = graph(e)
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
      ranks = step(g, ranks, damping).localCheckpoint()
    }
    ranks.select(col("node"), col("rank"))
  }

  /** One partition of the distinct edge list as primitive arrays:
    * `ids`, the partition's sorted distinct non-null node ids; `deg`,
    * each one's out-degree within the partition (edges into a null
    * count, as they do in the shuffle path's node aggregate); and the
    * routable edges (both endpoints non-null) as `src`/`dst` indices
    * into `ids`. `hasNull`: some edge has a null endpoint. */
  private final class Part(val index: Int, val ids: Array[Long],
      val deg: Array[Long], val src: Array[Int], val dst: Array[Int],
      val hasNull: Boolean) extends Serializable

  private def part(index: Int, rows: Iterator[InternalRow],
      id: (InternalRow, Int) => Long): Part = {
    val s, d, srcOnly, dstOnly = Array.newBuilder[Long]
    var hasNull = false
    rows.foreach { r =>
      (r.isNullAt(0), r.isNullAt(1)) match {
        case (false, false) => s += id(r, 0); d += id(r, 1)
        case (false, true) => hasNull = true; srcOnly += id(r, 0)
        case (true, false) => hasNull = true; dstOnly += id(r, 1)
        case _ => hasNull = true
      }
    }
    val (sv, dv, so) = (s.result(), d.result(), srcOnly.result())
    val ids = distinctSorted(Array.concat(sv, dv, so, dstOnly.result()))
    val deg = new Array[Long](ids.length)
    (sv.iterator ++ so.iterator)
      .foreach(v => deg(Arrays.binarySearch(ids, v)) += 1)
    new Part(index, ids, deg, sv.map(Arrays.binarySearch(ids, _)),
      dv.map(Arrays.binarySearch(ids, _)), hasNull)
  }

  private def distinctSorted(a: Array[Long]): Array[Long] = {
    Arrays.sort(a)
    val b = Array.newBuilder[Long]
    var i = 0
    while (i < a.length) {
      if (i == 0 || a(i) != a(i - 1)) b += a(i)
      i += 1
    }
    b.result()
  }

  /** Elementwise `Math.addExact` of two accumulators; an empty array
    * is the zero (a partition that routed no edge). */
  private def addInto(a: Array[Long], b: Array[Long]): Array[Long] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else {
      var i = 0
      while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
      a
    }

  /** `cols` analyzed over an input of `schema` into one projection the
    * driver applies per node: the analyzer inserts the same type
    * coercions and ANSI casts as in `step`'s plan. */
  private def projection(spark: SparkSession, schema: StructType,
      cols: Column*): UnsafeProjection =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .select(cols: _*).queryExecution.analyzed match {
      case Project(exprs, child) => UnsafeProjection.create(exprs, child.output)
      case p => throw new IllegalStateException(s"unexpected plan: $p")
    }

  /** The driver-vector execution over the deduplicated edge list `e`.
    * `run` returns None when the node bound exceeds the budget: nothing
    * O(n) has then been collected, and the cached arrays are gone. */
  private final class DriverVector(e: DataFrame) {
    private val spark = e.sparkSession
    private val sc = spark.sparkContext
    private val nodeType = e.schema.head.dataType
    private val id: (InternalRow, Int) => Long = nodeType match {
      case LongType => (r, i) => r.getLong(i)
      case IntegerType => (r, i) => r.getInt(i).toLong
      case ShortType => (r, i) => r.getShort(i).toLong
      case ByteType => (r, i) => r.getByte(i).toLong
    }
    private val toNode: Long => Any = nodeType match {
      case LongType => v => v
      case IntegerType => v => v.toInt
      case ShortType => v => v.toShort
      case ByteType => v => v.toByte
    }

    def run(iters: Int, damping: Double): Option[DataFrame] = {
      val read = id
      val parts = e.queryExecution.toRdd
        .mapPartitionsWithIndex((i, rows) => Iterator.single(part(i, rows, read)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      var shared: Broadcast[Array[Array[Int]]] = null
      try {
        val bound = parts.map(p => p.ids.length + (if (p.hasNull) 1L else 0L))
          .fold(0L)(_ + _)
        // the node vector at 8 bytes a node against the broadcast
        // budget; −1 turns broadcasts, and this path, off
        val budget = spark.sessionState.conf.autoBroadcastJoinThreshold
        if (budget < 0 || bound > budget / 8) None
        else {
          // O(bound) to the driver: each partition's ids and degrees
          val local = parts.map(p => (p.index, p.ids, p.deg, p.hasNull))
            .collect().sortBy(_._1)
          val ids = distinctSorted(Array.concat(local.map(_._2).toSeq: _*))
          val deg = new Array[Long](ids.length)
          // per partition: local index → global index
          val toGlobal = local.map { case (_, lIds, lDeg, _) =>
            Array.tabulate(lIds.length) { i =>
              val g = Arrays.binarySearch(ids, lIds(i))
              deg(g) += lDeg(i)
              g
            }
          }
          shared = sc.broadcast(toGlobal)
          val hasNull = local.exists(_._4)
          Some(iterate(parts, shared, ids, deg, hasNull, iters, damping))
        }
      } finally {
        if (shared != null) shared.destroy()
        parts.unpersist(blocking = false)
      }
    }

    private def iterate(parts: RDD[Part], shared: Broadcast[Array[Array[Int]]],
        ids: Array[Long], deg: Array[Long], hasNull: Boolean, iters: Int,
        damping: Double): DataFrame = {
      val m = ids.length
      // a null node takes part in N but routes and receives nothing
      val n = m + (if (hasNull) 1L else 0L)
      val contrib = projection(spark,
        StructType(Seq(StructField("rank", DoubleType, nullable = false),
          StructField("deg", LongType, nullable = false))),
        contribution(col("rank"), col("deg")))
      val update = projection(spark,
        StructType(Seq(StructField("s", LongType, nullable = false))),
        damped(col("s"), damping, n))
      val cIn = new SpecificInternalRow(Seq(DoubleType, LongType))
      val uIn = new SpecificInternalRow(Seq(LongType))
      def next(s: Long): Double = {
        uIn.setLong(0, s)
        update(uIn).getDouble(0)
      }
      // the same double division Spark would run
      val rank = Array.fill(m)(1.0 / n)
      var nullRank = 1.0 / n
      for (_ <- 0 until iters) {
        val c = new Array[Long](m)
        var i = 0
        while (i < m) {
          if (deg(i) > 0) {
            cIn.setDouble(0, rank(i))
            cIn.setLong(1, deg(i))
            c(i) = contrib(cIn).getLong(0)
          }
          i += 1
        }
        val bc = sc.broadcast(c)
        try {
          val sums = parts.treeAggregate(Array.emptyLongArray)((acc, p) => {
            if (p.src.isEmpty) acc
            else {
              val a = if (acc.isEmpty) new Array[Long](m) else acc
              val (cs, g) = (bc.value, shared.value(p.index))
              var k = 0
              while (k < p.src.length) {
                val t = g(p.dst(k))
                a(t) = Math.addExact(a(t), cs(g(p.src(k))))
                k += 1
              }
              a
            }
          }, addInto)
          i = 0
          while (i < m) {
            rank(i) = next(if (sums.isEmpty) 0L else sums(i))
            i += 1
          }
          nullRank = next(0L)
        } finally bc.destroy()
      }
      output(ids, rank, if (hasNull) Some(nullRank) else None)
    }

    /** (node, rank) from an RDD of primitive slices, one per default
      * task slot: no n-row LocalRelation on the driver. */
    private def output(ids: Array[Long], rank: Array[Double],
        nullRank: Option[Double]): DataFrame = {
      val slices = math.max(1, sc.defaultParallelism)
      val chunks = (0 until slices).map { k =>
        val (lo, hi) = (ids.length * k / slices, ids.length * (k + 1) / slices)
        (ids.slice(lo, hi), rank.slice(lo, hi),
          if (k == 0) nullRank else None)
      }
      val node = toNode
      val rows = sc.parallelize(chunks, slices).flatMap { case (v, r, nr) =>
        v.indices.iterator.map(i => Row(node(v(i)), r(i))) ++
          nr.iterator.map(Row(null, _))
      }
      spark.createDataFrame(rows, StructType(Seq(
        StructField("node", nodeType, e.schema.exists(_.nullable)),
        StructField("rank", DoubleType, nullable = false))))
    }
  }
}
