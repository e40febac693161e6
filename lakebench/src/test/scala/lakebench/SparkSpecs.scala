package lakebench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Specs that need a live session share one local[2] session. */
class SparkSpecs extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp: Path = Files.createTempDirectory("lakebench-spec")
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", tmp.resolve("spark").toString)
    .config("spark.sql.warehouse.dir", tmp.resolve("wh").toString)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  test("census counts AQE's final plan: a runtime SMJ→BHJ conversion reads smj = 0") {
    // Filters keep the static size estimate of each side at ~80 MB, so the
    // initial plan is a SortMergeJoin; at runtime both sides hold a
    // handful of rows and AQE replans the join as a broadcast.
    val l = spark.range(0, 10000000L).filter(col("id") % 1000000 === 0)
      .withColumnRenamed("id", "k")
    val r = spark.range(0, 10000000L).filter(col("id") % 2000000 === 0)
      .withColumnRenamed("id", "k2")
    val joined = l.join(r, col("k") === col("k2"))
    val initial = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    assert(Census.of(initial).smj == 1, "the test needs an initial SortMergeJoin")

    val probe = new Probe(spark).install()
    try {
      val before = probe.snapshot()
      assert(joined.collect().length == 5)
      val c = (probe.snapshot() - before).census
      assert(c.smj == 0)
      assert(c.bhj == 1)
    } finally probe.remove()
  }

  test("same seed gives byte-identical CSV batches and identical GraftLog frames") {
    def gen(seed: Long, dir: String) = {
      val g = new LakeGen(seed)
      val landing = tmp.resolve(dir)
      (0 to 1).foreach(b => g.writeBatch(b, landing))
      val frames = (0 to 1).map { k =>
        val base = g.nextEventId
        (g.appendBatch(k), g.mergeSource(k), g.deleteRange(k, base), g.readTargets(k))
      }
      (landing, frames, (g.transactionCount, g.transactionCostSum, g.eventCount, g.eventValueSum))
    }
    def bytes(p: Path) = {
      val s = Files.list(p)
      try s.sorted().toArray.map(f => f.toString.split('/').last ->
        Files.readAllBytes(f.asInstanceOf[Path]).toSeq).toSeq
      finally s.close()
    }
    val (a, fa, ma) = gen(7, "a")
    val (b, fb, mb) = gen(7, "b")
    val (c, fc, _) = gen(8, "c")
    assert(bytes(a).map(_._1) == Seq("clientes_b0.csv", "clientes_b1.csv",
      "proveedores_b0.csv", "proveedores_b1.csv", "transacciones_b0.csv",
      "transacciones_b1.csv"))
    assert(bytes(a) == bytes(b))
    assert(fa == fb)
    assert(ma == mb)
    assert(bytes(a) != bytes(c))
    assert(fa != fc)
  }

  test("every metric name is valid and matches BENCHMARK.json") {
    val h = new Harness(spark, traced = false)
    val q: Registry.Query = (s, _) => s.range(3).toDF("id")
    Registry.runQuery(h, "q", q, "", Some(Digest.of(q(spark, "").schema,
      q(spark, "").collect().toSeq)))
    val host = Host.sample()
    val r = new Report("registry_heavy", h, 1.0, None, None, 0L, host, host)
    val declared = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(java.nio.file.Paths.get("..", "BENCHMARK.json"))))
    def names(section: String) = {
      import org.json4s._
      (declared \ section).children.map(m => (m \ "name").asInstanceOf[JString].s)
    }
    Seq(r.endToEnd -> "end_to_end", r.perLayer -> "per_layer").foreach { case (ms, section) =>
      ms.foreach { case (n, _) => assert(Stats.validName(n), n) }
      assert(ms.map(_._1) == names(section), section)
    }
  }

  test("a wrong pinned digest is counted as a failure and never becomes a timing") {
    val h = new Harness(spark, traced = false)
    val q: Registry.Query = (s, _) => s.range(3).toDF("id")
    val right = Digest.of(q(spark, "").schema, q(spark, "").collect().toSeq)
    Registry.runQuery(h, "q", q, "", Some(right))
    assert((h.attempted, h.failed, h.ops.size) == (1, 0, 1))
    Registry.runQuery(h, "q", q, "", Some(right.copy(sha256 = "0" * 64)))
    Registry.runQuery(h, "q", q, "", None)
    Registry.runQuery(h, "q", (_, _) => throw new RuntimeException("boom"), "",
      Some(right))
    assert((h.attempted, h.failed, h.ops.size) == (4, 3, 1))
  }

  test("a wrong model count is counted as a failure and never becomes a timing") {
    val h = new Harness(spark, traced = false)
    val lake = new Lake(h, seed = 3, tmp.resolve("lake"))
    lake.round(0, measured = true)
    assert((h.attempted, h.failed, h.ops.size) == (1, 0, 1))
    // one row the generator's model does not know about
    spark.range(1).select(lit(-1L).as("event_id"), current_timestamp().as("ts"),
      lit(0L).as("user_id"), lit("view").as("event_type"), lit(1.0).as("value"))
      .write.format("graft.sources.GraftLogSource").mode("append")
      .option("shards", 1).save(lake.eventsPath)
    lake.round(1, measured = true)
    assert((h.attempted, h.failed, h.ops.size) == (2, 1, 1))
  }
}
