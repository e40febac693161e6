package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-JVM interleaved A/B probe for the r12 mid-pack pricing pass
  * (r11 brief #8): variants of a query run alternating in one session
  * so run-to-run wall variance cannot masquerade as a win. Usage:
  * `runMain graft.tools.PerfAB <probe> [sfDir]` with probe ∈
  * {q311, q199}. Median of 3 reps per variant is the decision number.
  */
object PerfAB {
  private def timed(f: => Long): Double = {
    val t0 = System.nanoTime()
    val n = f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"    rows=$n took $s%.2f s")
    s
  }

  def main(args: Array[String]): Unit = {
    val probe = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.sketchAudit", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    graft.plans.GraftExtensions.install(spark)
    import spark.implicits._

    def cool(): Unit = { spark.catalog.clearCache(); System.gc() }

    val variants: Seq[(String, () => Long)] = probe match {
      case "q311" =>
        graft.Tables.table(spark, dir, "lineitem")
          .createOrReplaceTempView("li_q311")
        val recursiveOver = (edgeRel: String) =>
          s"""WITH RECURSIVE
              src AS (SELECT min(s) AS s0 FROM $edgeRel),
              reach(node, hop) AS (
                SELECT s0, 0 FROM src
                UNION ALL
                SELECT e.d, reach.hop + 1
                FROM reach JOIN $edgeRel e ON e.s = reach.node
                WHERE reach.hop < 2),
              mh AS (SELECT node, min(hop) AS hop FROM reach GROUP BY node)
              SELECT hop, count(*) AS n_nodes, min(node) AS min_node,
                     max(node) AS max_node,
                     CAST(sum(node) AS BIGINT) AS sum_nodes
              FROM mh GROUP BY hop ORDER BY hop"""
        Seq(
          "A_inline_cte" -> (() => spark.sql(
            graft.queries.OperatorQueries.recursiveReachSql("li_q311"))
            .collect().length.toLong),
          "B_staged_edges" -> (() => {
            val e = spark.sql(
              """SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
                 FROM li_q311 a JOIN li_q311 b
                   ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey <> b.l_partkey
                 WHERE a.l_orderkey % 4 = 0""").localCheckpoint()
            e.createOrReplaceTempView("e_q311_staged")
            val r = spark.sql(recursiveOver("e_q311_staged"))
              .collect().length.toLong
            e.unpersist(blocking = true)
            r
          }))
      case "q199" =>
        spark.conf.set("spark.sql.catalog.glog",
          "graft.sources.GraftLogCatalog")
        spark.conf.set("spark.sql.catalog.glog.base", "/tmp/graft-glog-cat")
        val tbl = graft.queries.GlogFixtures.tableName(
          graft.queries.GlogFixtures.eventsLog(spark, dir, 8))
        def drain(mspt: Int): Long = graft.streaming.StreamTuning.withLocalCheckpoints(spark) {
          val sink = java.nio.file.Files
            .createTempDirectory(s"graft_ab199_").toString
          val q = spark.readStream
            .option("maxShardsPerTrigger", mspt.toString)
            .table(s"glog.$tbl")
            .groupBy($"event_type")
            .agg(count(lit(1)).as("n"),
              sum($"value".cast("decimal(18,4)")).as("tv"))
            .writeStream.outputMode("complete")
            .option("checkpointLocation", s"$sink/_ck")
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              b.write.mode("overwrite").parquet(s"$sink/snap")
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          spark.read.parquet(s"$sink/snap").count()
        }
        Seq(
          "A_mspt2" -> (() => drain(2)),
          "B_mspt4" -> (() => drain(4)))
      case "q100b" =>
        // r16 (r15 verdict #2/#3): is the per-iteration rank-vector
        // broadcast a local pessimization? Three join strategies for
        // the SAME iterations — results bit-identical by construction.
        import org.apache.spark.sql.DataFrame
        def edges(): DataFrame = {
          val li = graft.Tables.table(spark, dir, "lineitem")
            .select($"l_orderkey", $"l_suppkey")
          val ords = graft.Tables.table(spark, dir, "orders")
            .select($"o_orderkey", $"o_custkey")
          val pairs = li.join(ords, $"l_orderkey" === $"o_orderkey")
            .select($"o_custkey".as("cust"),
              ($"l_suppkey" + 1000000L).as("supp"))
          pairs.select($"cust".as("src"), $"supp".as("dst"))
            .union(pairs.select($"supp".as("src"), $"cust".as("dst")))
        }
        def pr(br: Boolean, bc: Boolean): Long =
          graft.operators.PageRank.run(edges(), "src", "dst", iters = 3,
            bcastRanks = br, bcastContribs = bc).count()
        Seq(
          "A_bcast_both" -> (() => pr(true, true)),
          "B_bcast_contribs_only" -> (() => pr(false, true)),
          "C_bcast_none" -> (() => pr(false, false)))
      case "graph" =>
        // r12 brief #8: the r11 inline-vs-staged A/B for the
        // ITERATIVE graph consumers predates GraphFixtures' fanout
        // option — re-check PageRank (q100's weighted edges) and LPA
        // (q227's distinct edges) against parquet-staged edges read
        // back WITH a fanout repartition, in one JVM.
        import org.apache.spark.sql.DataFrame
        def weightedEdges(): DataFrame = {
          val li = graft.Tables.table(spark, dir, "lineitem")
            .select($"l_orderkey", $"l_suppkey")
          val ords = graft.Tables.table(spark, dir, "orders")
            .select($"o_orderkey", $"o_custkey")
          val pairs = li.join(ords, $"l_orderkey" === $"o_orderkey")
            .select($"o_custkey".as("cust"),
              ($"l_suppkey" + 1000000L).as("supp"))
          pairs.select($"cust".as("src"), $"supp".as("dst"))
            .union(pairs.select($"supp".as("src"), $"cust".as("dst")))
        }
        def stagedFan(df: DataFrame, key: String): DataFrame = {
          val p = s"/tmp/graft-perfab-$key"
          if (!java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
            df.write.mode("overwrite").parquet(p)
          graft.queries.Q.fanout(spark.read.parquet(p))
        }
        def pr(e: DataFrame): Long =
          graft.operators.PageRank.run(e, "src", "dst", iters = 3)
            .count()
        def lpa(e0: DataFrame): Long = {
          import org.apache.spark.sql.expressions.Window
          val e = e0.localCheckpoint()
          var lbl = e.select($"src".as("node")).distinct()
            .select($"node", $"node".as("lbl"))
          for (_ <- 1 to 3) {
            val votes = e.toDF("vnode", "dst")
              .join(lbl.toDF("dst", "nl"), "dst")
              .select($"vnode".as("node"), $"nl".as("lbl"))
              .union(lbl)
            val counted = votes.groupBy($"node", $"lbl")
              .agg(count(lit(1)).as("c"))
            val w = Window.partitionBy($"node")
              .orderBy($"c".desc, $"lbl".asc)
            lbl = counted
              .withColumn("rn", row_number().over(w))
              .filter($"rn" === 1).select($"node", $"lbl")
              .localCheckpoint()
          }
          lbl.count()
        }
        def distinctEdges(): DataFrame =
          graft.queries.OperatorQueries.purchaseEdges(spark, dir)
        Seq(
          "A_pr_inline" -> (() => pr(weightedEdges())),
          "B_pr_staged_fanout" -> (() =>
            pr(stagedFan(weightedEdges(), "wedges"))),
          "C_lpa_inline" -> (() => lpa(distinctEdges())),
          "D_lpa_staged_fanout" -> (() =>
            lpa(stagedFan(distinctEdges(), "dedges"))))
      case other => sys.error(s"unknown probe $other")
    }

    // warm both variants once (fixture builds, codegen), then 3
    // interleaved timed reps each
    println(s"== warmup ==")
    variants.foreach { case (n, f) => println(s"  $n"); timed(f()) }
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    for (rep <- 1 to 3; (n, f) <- variants) {
      cool()
      println(s"== rep $rep $n ==")
      times(n) = timed(f()) :: times.getOrElse(n, Nil)
    }
    times.toSeq.sortBy(_._1).foreach { case (n, ts) =>
      val m = ts.sorted.apply(ts.size / 2)
      println(f"MEDIAN $n $m%.2f s  (all: ${ts.reverse.map(t => f"$t%.2f").mkString(", ")})")
    }
    spark.stop()
  }
}
