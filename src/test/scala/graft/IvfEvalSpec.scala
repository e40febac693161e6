package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.VectorQueries
import graft.vector.{Ivf, VectorFunctions}

/** The IVF evaluation kernel (`Ivf.evalRanks`) behind q144, q150 and
  * q216 must give bit-identical answers to the per-leg formulations it
  * replaced: a brute-force exact top-k, a `searchAssigned` (or
  * rank-filtered widest-probe) top-k per probe width, and joins between
  * them. Those formulations are kept below as the references, and both
  * run over the sf0.001 corpus and over small corpora built to hit the
  * edges: tied cosines, null vectors, a query tied with its own
  * duplicates, a probe width with no hit, and no query at all. */
class IvfEvalSpec extends SparkSuite {
  import spark.implicits._

  // ---- reference formulations (the plans the kernel replaced) ----

  private def refQ144(emb: DataFrame): DataFrame = {
    val queries = emb.filter($"vec_id" < 20)
    val model = Ivf.fit(emb, "vec_id", "embedding", cells = 16, iters = 1)
    val assigned = Ivf.assign(
      emb.withColumnRenamed("vec_id", "neighbor_id"), model)
      .localCheckpoint()
    val ann = Ivf.searchAssigned(
      queries.withColumnRenamed("vec_id", "query_id"),
      assigned, model, k = 5, nprobe = 4)
      .select($"query_id", $"neighbor_id")
    val exact = VectorFunctions.knnBruteForce(
      queries.withColumnRenamed("vec_id", "query_id"),
      emb.withColumnRenamed("vec_id", "neighbor_id"), k = 5)
      .select($"query_id", $"neighbor_id")
    val hits = ann.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
    queries.select($"vec_id".as("query_id"))
      .join(hits, Seq("query_id"), "left_outer")
      .select($"query_id",
        coalesce($"n_hits", lit(0L)).as("n_hits"))
      .withColumn("recall_pm", $"n_hits" * 200)
      .orderBy($"query_id")
  }

  private def refQ150(emb: DataFrame): DataFrame = {
    val queries = emb.filter($"vec_id" < 20)
    val model = Ivf.fit(emb, "vec_id", "embedding", cells = 16, iters = 1)
    val assigned = Ivf.assign(
      emb.withColumnRenamed("vec_id", "neighbor_id"), model)
      .localCheckpoint()
    val ann = Ivf.searchAssigned(
      queries.withColumnRenamed("vec_id", "query_id"),
      assigned, model, k = 10, nprobe = 4)
      .select($"query_id", $"neighbor_id".as("truth_id"), $"rank")
    val truth = VectorFunctions.knnBruteForce(
      queries.withColumnRenamed("vec_id", "query_id"),
      emb.withColumnRenamed("vec_id", "neighbor_id"), k = 1)
      .select($"query_id", $"neighbor_id".as("truth_id"))
    queries.select($"vec_id".as("query_id"))
      .join(truth, Seq("query_id"))
      .join(ann, Seq("query_id", "truth_id"), "left_outer")
      .select($"query_id", $"truth_id",
        coalesce($"rank", lit(0)).as("found_rank"),
        when($"rank".isNull, lit(0L))
          .otherwise(expr("1000000 div rank")).as("rr_ppm"))
      .orderBy($"query_id")
  }

  /** q216 as four probe legs over the widest probe, each a rank filter
    * plus its own top-5 window, with candidates from a cell-size table. */
  private def refQ216(emb: DataFrame): DataFrame = {
    val queries = emb.filter($"vec_id" < 20)
    val model = Ivf.fit(emb, "vec_id", "embedding", cells = 16, iters = 1)
    val assigned = Ivf.assign(
      emb.withColumnRenamed("vec_id", "neighbor_id"), model)
      .localCheckpoint()
    val cellSizes = assigned.groupBy($"cell")
      .agg(count(lit(1)).as("csz")).localCheckpoint()
    val exact = VectorFunctions.knnBruteForce(
      queries.withColumnRenamed("vec_id", "query_id"),
      emb.withColumnRenamed("vec_id", "neighbor_id"), k = 5)
      .select($"query_id", $"neighbor_id").localCheckpoint()
    val nCorpus = emb.agg(count(lit(1)).as("n_corpus"))
    val q8 = queries.select($"vec_id".as("query_id"),
        $"embedding".as("q_vec"),
        sqrt(VectorFunctions.dotExact($"embedding", $"embedding"))
          .as("q_norm"),
        posexplode(Ivf.probeCells($"embedding", model, 8))
          .as(Seq("cpos", "cell")))
      .localCheckpoint()
    val scored = broadcast(q8).join(assigned, "cell")
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"cpos", $"neighbor_id",
        (VectorFunctions.dotExact($"q_vec", $"c_vec") /
          ($"q_norm" * $"c_norm")).as("cosine"))
      .localCheckpoint()
    val probedSizes = q8.select($"query_id", $"cpos", $"cell")
      .join(cellSizes, "cell").localCheckpoint()
    val w5 = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id")
    val legs = Seq(1, 2, 4, 8).map { np =>
      val hits = scored.filter($"cpos" < np)
        .withColumn("rank", row_number().over(w5))
        .filter($"rank" <= 5)
        .select($"query_id", $"neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
      val cands = probedSizes.filter($"cpos" < np)
        .agg(sum($"csz").as("n_candidates"))
      hits.crossJoin(cands)
        .select(lit(np).as("nprobe"), $"n_hits", $"n_candidates")
    }
    legs.reduce(_ unionByName _)
      .crossJoin(broadcast(nCorpus))
      .select($"nprobe", $"n_hits",
        ($"n_hits" * 10L).as("recall_pm"),
        $"n_candidates",
        expr("1000 * n_candidates div (20 * n_corpus)").as("scan_pm"))
      .orderBy($"nprobe")
  }

  // ---- corpora ----

  /** An embeddings frame (the registry table's schema) from
    * (vec_id, vector or null) rows. */
  private def corpus(rows: Seq[(Long, Option[Seq[Float]])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id, v.orNull, (id % 3).toInt) }, 4),
      schema)
  }

  /** 12 small integer directions, each at scale 1, 2 and 4 and again
    * at 1: every cosine has exact ties (a power-of-two scale leaves
    * the dot/norm quotient bit-identical), query 14 sits mid-way in the
    * tie group of its own duplicates (ids 2, 26, 38, 50 …), and ids 5
    * and 41 carry null vectors. */
  private lazy val tied: DataFrame = {
    val dirs = Seq(Seq(1f, 2f, 0f, 1f), Seq(2f, 1f, 1f, 0f),
      Seq(0f, 1f, 3f, 1f), Seq(1f, 0f, 1f, 3f), Seq(3f, 1f, 0f, 2f),
      Seq(1f, 3f, 2f, 0f), Seq(2f, 2f, 1f, 1f), Seq(0f, 2f, 1f, 3f),
      Seq(1f, 1f, 3f, 2f), Seq(3f, 0f, 2f, 1f), Seq(2f, 0f, 3f, 3f),
      Seq(1f, 3f, 0f, 3f))
    corpus((0L until 96L).map { id =>
      val scale = 1 << ((id / 12) % 3).toInt
      id -> (if (id == 5 || id == 41) None
        else Some(dirs((id % 12).toInt).map(_ * scale)))
    })
  }

  /** A nonzero step in -8..8, so no vector is zero (a zero norm makes
    * every cosine of its row NaN). */
  private def gridStep(rnd: scala.util.Random): Int = {
    val v = rnd.nextInt(16) - 8
    if (v == 0) 8 else v
  }

  /** Two queries, ids 0 and 1, are far-out axis vectors; the corpus
    * (ids 100…) is small vectors on a 1/8 grid. Both queries seed a
    * cell nothing else joins, so the one-cell probe finds only the
    * query itself and q216's nprobe = 1 row reads 0 hits. */
  private lazy val isolated: DataFrame = {
    val rnd = new scala.util.Random(216)
    corpus((Seq(0L, 1L) ++ (100L until 220L)).map { id =>
      id -> Some(
        if (id < 2) Seq.tabulate(4)(d => if (d == id) 100f else 0f)
        else Seq.fill(4)(gridStep(rnd) / 8f))
    })
  }

  /** No vec_id below 20: the eval query set is empty. */
  private lazy val noQueries: DataFrame = {
    val rnd = new scala.util.Random(144)
    corpus((100L until 180L).map(id =>
      id -> Some(Seq.fill(4)(gridStep(rnd) / 4f))))
  }

  private lazy val sf0001Emb: DataFrame =
    Tables.table(spark, sf0001, "embeddings")

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ===
      want.schema.map(f => f.name -> f.dataType), what)
    assert(got.collect().toSeq === want.collect().toSeq, what)
  }

  private def assertAllSame(emb: DataFrame, what: String): Unit = {
    assertSame(VectorQueries.annRecallReport(emb), refQ144(emb), s"q144 $what")
    assertSame(VectorQueries.mrrEval(emb), refQ150(emb), s"q150 $what")
    assertSame(VectorQueries.annTuningCurve(emb), refQ216(emb), s"q216 $what")
  }

  test("q144, q150 and q216 match the per-leg plans on sf0.001") {
    assertAllSame(sf0001Emb, "sf0.001")
  }

  test("tied cosines, null vectors and a query tied with its own " +
      "duplicates rank exactly as the per-leg plans do") {
    val ref = refQ216(tied).collect()
    assert(ref.map(_.getLong(1)).exists(_ > 0L), ref.mkString("; "))
    assertAllSame(tied, "on tied cosines")
  }

  test("a probe width with no hit still outputs its 0 row") {
    val ref = refQ216(isolated).collect()
    assert(ref.head.getInt(0) === 1 && ref.head.getLong(1) === 0L,
      ref.mkString("; "))
    assert(ref.map(_.getLong(1)).exists(_ > 0L), ref.mkString("; "))
    assertAllSame(isolated, "with an empty probe width")
  }

  test("an empty query set gives the per-leg plans' answers") {
    val ref = refQ216(noQueries).collect()
    assert(ref.map(_.getInt(0)).toSeq === Seq(1, 2, 4, 8))
    assert(ref.forall(r => r.getLong(1) === 0L && r.isNullAt(3)),
      ref.mkString("; "))
    assert(refQ144(noQueries).count() === 0L)
    assertAllSame(noQueries, "with no query")
  }

  test("q216 ranks exact truth and every probe width in one window " +
      "exchange") {
    val df = SparkEntry.queries("q216_ann_tuning_curve")(spark, sf0001)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val plan = nodes(df.queryExecution.executedPlan)
    val windows = plan.collect { case w: WindowExec => w }
    val hashExchanges = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    val shown = df.queryExecution.executedPlan.toString
    assert(windows.size === 1, shown)
    assert(hashExchanges.size === 1, shown)
  }
}
