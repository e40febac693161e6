package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter, LocalTableScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerBus

import graft.sources.GraftLog

/** A plain graftlog batch read answers its event_id key bounds
  * EXACTLY: the readers drop every line outside the pushed interval,
  * so Spark plans no residual Filter, the generated code carries no
  * key literal, and one compiled class serves every lookup. Pins:
  * same rows as the predicate on an in-memory reference (range
  * edges, contradictions, deletion vectors, a missing sidecar, a
  * bucketed layout, a pinned version, the row reader), the plan
  * shape, the compile count, LIMIT/top-n over a key-filtered scan,
  * range DELETEs at the Long edges, and that row-level rewrites
  * (copy-on-write and delta) still read whole shards. A one-key
  * lookup within the broadcast budget reads on the driver (a
  * LocalTableScan, no job); the point-read cases run on that path
  * and, under a -1 budget, on the BatchScan, with identical rows. */
class GraftLogExactKeySpec extends SparkSuite {
  import spark.implicits._

  private val fmt = "graft.sources.GraftLogSource"
  private object Plans extends AdaptiveSparkPlanHelper

  private type Row4 = (Long, Long, String, Double)

  /** 300 seeded rows — distinct ids scattered over [-1e6, 1e6] plus
    * both ends of the Long range — in 6 shards of 50. */
  private def seededRows(seed: Long): Seq[(Long, Long, Long, String, Double)] = {
    val rnd = new scala.util.Random(seed)
    val ids = (Iterator.continually(rnd.nextLong() % 1000000L)
      .distinct.take(298).toSeq :+ Long.MinValue :+ Long.MaxValue).sorted
    ids.map(id => (id, 1700000000000000L + rnd.nextInt(1000000),
      rnd.nextInt(13).toLong, s"t${rnd.nextInt(3)}", rnd.nextInt(1000) * 0.25))
  }

  private def writeLog(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    val dir = tmpDir("glog-xk").toString
    GraftLog.write(rows, dir, rowsPerShard = 50)
    dir
  }

  private def frame(rs: Seq[(Long, Long, Long, String, Double)]): DataFrame =
    rs.toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"), $"user_id",
        $"event_type", $"value")

  private def asRow4(df: DataFrame): Seq[Row4] =
    df.select($"event_id", $"user_id", $"event_type", $"value")
      .as[Row4].collect().toSeq.sorted

  private def reference(rows: Seq[(Long, Long, Long, String, Double)]): DataFrame =
    rows.map { case (id, _, u, t, v) => (id, u, t, v) }
      .toDF("event_id", "user_id", "event_type", "value")

  /** Key-only predicates (all consumed by the scan) and mixed ones
    * (a residual Filter remains) over ids drawn from `ids`. */
  private def predicates(ids: Seq[Long], seed: Long): Seq[(String, Column)] = {
    val rnd = new scala.util.Random(seed)
    val mid = ids.filter(i => i > Long.MinValue + 10 && i < Long.MaxValue - 10)
    def pick(): Long = mid(rnd.nextInt(mid.size))
    val e = $"event_id"
    val k = pick()
    val (a, b) = { val x = pick(); val y = pick(); (x min y, x max y) }
    Seq(
      "eq" -> (e === k),
      "eq absent" -> (e === k + 1),
      "eq + range" -> (e === k && e >= k - 3 && e < k + 1),
      "eq outside range" -> (e === k && e > k),
      "range" -> (e >= a && e < b),
      "contradictory range" -> (e > b && e < a),
      "> max" -> (e > Long.MaxValue),
      ">= max" -> (e >= Long.MaxValue),
      "= max" -> (e === Long.MaxValue),
      "< min" -> (e < Long.MinValue),
      "<= min" -> (e <= Long.MinValue),
      "= min" -> (e === Long.MinValue),
      "> min" -> (e > Long.MinValue && e < a),
      "< max" -> (e < Long.MaxValue && e > b),
      "or" -> (e === k || $"user_id" === 3L),
      "in" -> e.isin(k, a, b),
      "non-key column" -> (e >= a && $"value" > 100.0),
      "double literal" -> (e > (a.toDouble + 0.5)))
  }

  private def assertSameAsReference(read: () => DataFrame, ref: DataFrame,
      preds: Seq[(String, Column)], what: String): Unit =
    preds.foreach { case (name, p) =>
      assert(asRow4(read().filter(p)) === asRow4(ref.filter(p)),
        s"$what: $name")
    }

  test("key predicates return the reference rows: edges, dv, missing sidecar") {
    val rows = seededRows(7L)
    val dir = writeLog(rows)
    val preds = predicates(rows.map(_._1), 11L)
    val read = () => spark.read.format(fmt).load(dir)
    assertSameAsReference(read, reference(rows), preds, "plain")
    // the row reader (a _shard projection) applies the same bounds
    preds.foreach { case (name, p) =>
      val got = read().filter(p).select($"event_id", col("_shard"))
        .as[(Long, String)].collect().map(_._1).sorted.toSeq
      assert(got === reference(rows).filter(p).select($"event_id")
        .as[Long].collect().sorted.toSeq, s"_shard projection: $name")
    }
    // deletion vectors suppress inside the bounded interval too
    val rnd = new scala.util.Random(13L)
    val gone = rnd.shuffle(rows.map(_._1)).take(40)
    GraftLog.deleteVectors(dir, gone)
    val kept = rows.filterNot(r => gone.contains(r._1))
    assertSameAsReference(read, reference(kept), preds, "dv")
    // a shard that lost its sidecar is unprunable; the reader still
    // drops every out-of-range line
    val bare = writeLog(rows)
    Files.delete(Paths.get(bare, "shard-00002.meta"))
    assertSameAsReference(() => spark.read.format(fmt).load(bare),
      reference(rows), preds, "missing sidecar")
    // a vector binds to its shard through the sidecar echo: a shard
    // with a vector that lost its sidecar fails the read by name
    // instead of serving its deleted rows again; CALL glog.analyze
    // rebuilds the sidecar and the vector applies again
    val dvShard = {
      val s = Files.list(Paths.get(dir, "_dv"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".dv")).toSeq.min.takeWhile(_ != '.') + ".graftlog"
      finally s.close()
    }
    Files.delete(Paths.get(dir, dvShard.stripSuffix(".graftlog") + ".meta"))
    val e = intercept[Exception](read().collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains(dvShard) && m.contains("no sidecar")),
      msgs.mkString("\n"))
    assert(GraftLog.analyze(dir)._2 === 1)
    assertSameAsReference(read, reference(kept), preds, "dv after analyze")
  }

  test("bucketed and version-pinned reads apply the bounds exactly") {
    val rows = seededRows(17L)
    val preds = predicates(rows.map(_._1), 19L)
    // bucketed: selecting ub plans whole-bucket partitions (the bucket
    // reader)
    val bdir = tmpDir("glog-xk-b").toString
    frame(rows).withColumn("ub", pmod($"user_id", lit(4L)))
      .write.format(fmt).mode("append")
      .option("bucketBy", "user_id").option("buckets", 4).save(bdir)
    preds.foreach { case (name, p) =>
      val got = spark.read.format(fmt).load(bdir).filter(p)
        .select($"event_id", $"ub").as[(Long, Long)].collect().sorted.toSeq
      val want = reference(rows).filter(p)
        .select($"event_id", pmod($"user_id", lit(4L)))
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got === want, s"bucketed: $name")
    }
    // version pin: rows appended after the token stay invisible
    val dir = writeLog(rows)
    val tok = GraftLog.currentVersion(dir)
    val more = seededRows(23L).filterNot(r => rows.exists(_._1 == r._1))
      .filter(r => r._1 != Long.MinValue && r._1 != Long.MaxValue)
    frame(more).write.format(fmt).mode("append").save(dir)
    assertSameAsReference(
      () => spark.read.format(fmt).option("version", tok).load(dir),
      reference(rows), preds, "version-pinned")
    assertSameAsReference(() => spark.read.format(fmt).load(dir),
      reference(rows ++ more), preds, "head")
  }

  // ---- plan shape and code generation ----

  private var seq = 0
  /** ids [0, n) in `shards` shards behind a fresh catalog. */
  private def catalogTable(n: Int, shards: Int): String = {
    seq += 1
    val base = tmpDir("glog-xk-cat").toString
    spark.conf.set(s"spark.sql.catalog.xk$seq", "graft.sources.GraftLogCatalog")
    spark.conf.set(s"spark.sql.catalog.xk$seq.base", base)
    feed(0, n).write.format(fmt).mode("append")
      .option("shards", shards).save(s"$base/t")
    s"xk$seq.t"
  }

  private def feed(lo: Int, hi: Int) = spark.range(lo, hi)
    .select($"id".as("event_id"),
      to_timestamp_ntz(lit("2024-01-01 00:00:00")).as("ts"),
      ($"id" % 7).as("user_id"), lit("click").as("event_type"),
      ($"id" % 100).cast("double").as("value"))

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    Plans.stripAQEPlan(df.queryExecution.executedPlan)
  }

  private def filters(p: SparkPlan): Seq[FilterExec] =
    Plans.collect(p) { case f: FilterExec => f }

  /** The plan's operators, codegen wrappers left out. */
  private def operators(p: SparkPlan): Seq[Class[_]] =
    Plans.collect(p) {
      case _: WholeStageCodegenExec | _: InputAdapter => None
      case o => Some(o.getClass)
    }.flatten

  /** The two plans of a point read: the default budget (read on the
    * driver) and -1 (the BatchScan). */
  private val paths = Seq("default budget" -> None, "budget -1" -> Some(-1L))

  test("a pure key predicate plans ColumnarToRow over the scan, no Filter") {
    val t = catalogTable(400, 4)
    val point = s"SELECT value FROM $t WHERE event_id = 137"
    // within the broadcast budget the lookup is read on the driver
    val local = executed(spark.sql(point))
    assert(operators(local) === Seq(classOf[LocalTableScanExec]), local)
    // broadcast off: the columnar BatchScan, still with no Filter
    withBudget(Some(-1L)) {
      val plan = executed(spark.sql(point))
      assert(filters(plan).isEmpty, plan)
      assert(operators(plan) ===
        Seq(classOf[ColumnarToRowExec], classOf[BatchScanExec]), plan)
    }
    for (q <- Seq(
        s"SELECT value FROM $t WHERE event_id >= 100 AND event_id < 150",
        s"SELECT value FROM $t WHERE event_id > 9223372036854775807")) {
      val p = executed(spark.sql(q))
      assert(filters(p).isEmpty, s"$q\n$p")
    }
    // residual shapes keep their Filter
    for (q <- Seq(
        s"SELECT value FROM $t WHERE event_id = 5 OR user_id = 3",
        s"SELECT value FROM $t WHERE value > 50",
        s"SELECT value FROM $t WHERE event_id IN (5, 7)",
        s"SELECT value FROM $t WHERE event_id = 5 AND value > 50")) {
      val p = executed(spark.sql(q))
      assert(filters(p).nonEmpty, s"$q\n$p")
    }
    assert(spark.sql(s"SELECT value FROM $t WHERE event_id = 5 AND value > 50")
      .collect().isEmpty)
    assert(spark.sql(s"SELECT value FROM $t WHERE event_id = 57 AND value > 50")
      .as[Double].collect().toSeq === Seq(57.0))
  }

  test("twenty distinct key lookups compile a constant number of classes") {
    val t = catalogTable(400, 4)
    def lookup(k: Long): Seq[Double] =
      spark.sql(s"SELECT value FROM $t WHERE event_id = $k").as[Double]
        .collect().toSeq
    for ((path, budget) <- paths) withBudget(budget) {
      assert(lookup(3L) === Seq(3.0)) // warm: the one compile
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 20).foreach { i =>
        val k = 17L * i
        assert(lookup(k) === Seq((k % 100).toDouble), s"$path: lookup $k")
      }
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiled <= 2, s"$path: $compiled compilations for 20 lookups")
    }
  }

  // ---- point reads on the driver ----

  /** `read`'s rows under both [[paths]], asserted identical. The
    * default-budget plan scans through `scan` (-1 always plans the
    * BatchScan); a Filter is planned on both iff `residual`. */
  private def onBothPaths(what: String,
      scan: Class[_] = classOf[LocalTableScanExec],
      residual: Boolean = false)(read: => DataFrame): Seq[Row] = {
    val got = paths.map { case (path, budget) =>
      withBudget(budget) {
        val df = read
        val rows = df.collect().toSeq.sortBy(_.toString)
        val plan = Plans.stripAQEPlan(df.queryExecution.executedPlan)
        val scans = Plans.collect(plan) {
          case s: LocalTableScanExec => s.getClass
          case s: BatchScanExec => s.getClass
        }
        val want = if (budget.isEmpty) scan else classOf[BatchScanExec]
        assert(scans === Seq(want), s"$what ($path)\n$plan")
        assert(filters(plan).nonEmpty === residual, s"$what ($path)\n$plan")
        rows
      }
    }
    assert(got(0) === got(1), what)
    got(0)
  }

  /** Jobs started while `f` ran. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      ListenerBus.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("point reads return the same rows on the driver and on the BatchScan") {
    val rows = seededRows(31L)
    val dir = writeLog(rows)
    val read = () => spark.read.format(fmt).load(dir)
    def lookup(k: Long, df: DataFrame = read()) =
      df.filter($"event_id" === k).select($"value")
    val value = rows.map(r => r._1 -> r._5).toMap
    val ids = rows.map(_._1).filter(i => i > Long.MinValue && i < Long.MaxValue)
    val Seq(k, gone, twice) = Seq(ids(17), ids(123), ids(250))
    val absent = Iterator.iterate(k + 1)(_ + 1).find(!value.contains(_)).get

    assert(onBothPaths("present")(lookup(k)) === Seq(Row(value(k))))
    assert(onBothPaths("absent")(lookup(absent)).isEmpty)
    assert(onBothPaths("Long.MaxValue")(lookup(Long.MaxValue)) ===
      Seq(Row(value(Long.MaxValue))))
    // a residual predicate keeps its Filter above either scan
    assert(onBothPaths("residual kept", residual = true)(
      lookup(k, read().filter($"value" >= value(k)))) === Seq(Row(value(k))))
    assert(onBothPaths("residual dropped", residual = true)(
      lookup(k, read().filter($"value" > value(k)))).isEmpty)
    // an empty interval is no point read: a BatchScan with no shard
    assert(onBothPaths("> max", scan = classOf[BatchScanExec])(
      read().filter($"event_id" > Long.MaxValue).select($"value")).isEmpty)
    val empty = executed(read().filter($"event_id" > Long.MaxValue))
    assert(Plans.collect(empty) { case b: BatchScanExec =>
      b.inputPartitions.size } === Seq(0), empty)

    // a key written twice by two appends reads both rows; a version
    // pinned before the second append reads the first only
    val tok = GraftLog.currentVersion(dir)
    frame(Seq((twice, 1700000000000001L, 1L, "t9", -7.25)))
      .write.format(fmt).mode("append").save(dir)
    assert(onBothPaths("written twice")(lookup(twice)) ===
      Seq(Row(-7.25), Row(value(twice))).sortBy(_.toString))
    val pinned = () => spark.read.format(fmt).option("version", tok).load(dir)
    assert(onBothPaths("version-pinned")(lookup(twice, pinned())) ===
      Seq(Row(value(twice))))

    // a deletion vector suppresses the key on both paths; the token
    // minted before the delete still reads it
    GraftLog.deleteVectors(dir, Seq(gone))
    assert(onBothPaths("dv-suppressed")(lookup(gone)).isEmpty)
    assert(onBothPaths("dv neighbour")(lookup(k)) === Seq(Row(value(k))))
    assert(onBothPaths("pinned before the dv")(lookup(gone, pinned())) ===
      Seq(Row(value(gone))))

    // the dv'd shard losing its sidecar fails the lookup by name on
    // both paths, as any read of the table does
    val dvShard = {
      val s = Files.list(Paths.get(dir, "_dv"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".dv")).toSeq.min.takeWhile(_ != '.')
      finally s.close()
    }
    Files.delete(Paths.get(dir, dvShard + ".meta"))
    for ((path, budget) <- paths) withBudget(budget) {
      val e = intercept[Exception](lookup(gone).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(m => m.contains(dvShard) && m.contains("no sidecar")),
        s"$path\n${msgs.mkString("\n")}")
    }
  }

  test("a point read past the budget plans the BatchScan") {
    val t = catalogTable(400, 4)
    val q = s"SELECT value FROM $t WHERE event_id = 137"
    assert(withBudget(Some(64L))(operators(executed(spark.sql(q)))) ===
      Seq(classOf[ColumnarToRowExec], classOf[BatchScanExec]))
    assert(withBudget(Some(64L))(spark.sql(q).as[Double].collect().toSeq) ===
      Seq(37.0))
  }

  test("a point read on the driver starts no Spark job") {
    val t = catalogTable(400, 4)
    val q = s"SELECT value FROM $t WHERE event_id = 211"
    val (local, localJobs) = jobsDuring(spark.sql(q).as[Double].collect().toSeq)
    val (batch, batchJobs) = withBudget(Some(-1L))(
      jobsDuring(spark.sql(q).as[Double].collect().toSeq))
    assert(local === Seq(11.0) && batch === local)
    assert(localJobs === 0)
    assert(batchJobs >= 1) // the listener does count a BatchScan's job
  }

  test("a point read joined to a table past the budget is broadcast") {
    val t = catalogTable(400, 4)
    // 100 000 longs price at 800 kB: only the point read (one 4 kB
    // shard, by the statistics the local scan reports) fits the budget
    withBudget(Some(100000L)) {
      val df = spark.sql(s"SELECT user_id, value FROM $t WHERE event_id = 137")
        .join(spark.range(0, 100000).withColumnRenamed("id", "user_id"),
          "user_id")
      val plan = df.queryExecution.sparkPlan
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.size === 1, plan)
      assert(plan.collect { case s: LocalTableScanExec => s }.size === 1, plan)
      assert(df.as[(Long, Double)].collect().toSeq === Seq((4L, 37.0)))
    }
  }

  test("LIMIT and top-n over a key-filtered scan return in-range rows") {
    val rows = (0L until 400L).map(i =>
      (i, 1700000000000000L + i, i % 7, s"t${i % 3}", i * 0.5))
    val dir = tmpDir("glog-xk-limit").toString
    GraftLog.write(rows, dir, rowsPerShard = 100)
    val log = spark.read.format(fmt).load(dir)
    val limited = log.filter($"event_id" >= 350L).limit(20)
    val got = limited.select($"event_id").as[Long].collect()
    assert(got.length === 20 && got.forall(_ >= 350L), got.toSeq)
    assert(!limited.queryExecution.executedPlan.toString.contains("PushedLimit"))
    assert(log.filter($"event_id" >= 350L).orderBy($"event_id").limit(5)
      .select($"event_id").as[Long].collect().toSeq === (350L until 355L))
    assert(log.filter($"event_id" < 50L).orderBy($"event_id".desc).limit(5)
      .select($"event_id").as[Long].collect().toSeq === (45L to 49L).reverse)
    // an unfiltered limit still selects shards from the sidecars
    val plain = log.limit(20)
    assert(plain.collect().length === 20)
    assert(plain.queryExecution.executedPlan.toString.contains("PushedLimit"))
  }

  test("a DELETE past either end of the Long range deletes nothing") {
    val t = catalogTable(400, 4)
    spark.sql(s"DELETE FROM $t WHERE event_id > 9223372036854775807L")
    spark.sql(s"DELETE FROM $t WHERE event_id < -9223372036854775808L")
    assert(spark.table(t).count() === 400L)
    spark.sql(s"DELETE FROM $t WHERE event_id > 349")
    assert(spark.table(t).count() === 350L)
  }

  test("UPDATE, DELETE and MERGE with key predicates keep unmatched rows") {
    val modes = Seq("spark.graft.merge.mode", "spark.graft.update.mode",
      "spark.graft.delete.mode")
    for (cow <- Seq(true, false)) {
      if (cow) modes.foreach(spark.conf.set(_, "cow"))
      try {
        val t = catalogTable(400, 4)
        val what = if (cow) "cow" else "delta"
        var model: Map[Long, (Long, String, Double)] = (0L until 400L)
          .map(i => i -> ((i % 7, "click", (i % 100).toDouble))).toMap
        def check(step: String): Unit = {
          val got = spark.table(t)
            .select($"event_id", $"user_id", $"event_type", $"value")
            .as[Row4].collect().toSeq.sorted
          val want = model.toSeq.map { case (k, (u, e, v)) => (k, u, e, v) }.sorted
          assert(got === want, s"$what: $step")
        }
        spark.sql(s"UPDATE $t SET value = -1 WHERE event_id = 150")
        model = model.updated(150L, model(150L).copy(_3 = -1.0))
        check("update point")
        spark.sql(s"UPDATE $t SET value = -2 WHERE event_id >= 120 AND event_id < 130")
        (120L until 130L).foreach(k => model = model.updated(k, model(k).copy(_3 = -2.0)))
        check("update range")
        spark.sql(s"DELETE FROM $t WHERE event_id >= 200 AND event_id < 260 AND user_id = 3")
        model = model.filterNot { case (k, (u, _, _)) => k >= 200 && k < 260 && u == 3 }
        check("row-level delete")
        Seq((305L, 9.0), (310L, 9.5), (1000L, 1.0)).toDF("event_id", "value")
          .createOrReplaceTempView("xk_src")
        spark.sql(
          s"""MERGE INTO $t t USING xk_src s
                ON t.event_id = s.event_id AND t.event_id >= 300
              WHEN MATCHED THEN UPDATE SET value = s.value
              WHEN NOT MATCHED THEN INSERT
                (event_id, ts, user_id, event_type, value)
                VALUES (s.event_id, TIMESTAMP_NTZ'2024-01-02 00:00:00',
                        0, 'merged', s.value)""")
        model = model.updated(305L, model(305L).copy(_3 = 9.0))
          .updated(310L, model(310L).copy(_3 = 9.5))
          .updated(1000L, (0L, "merged", 1.0))
        check("merge")
      } finally if (cow) modes.foreach(spark.conf.unset)
    }
  }
}
