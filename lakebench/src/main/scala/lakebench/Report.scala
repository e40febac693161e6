package lakebench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Turns one run's samples into the metrics the benchmark reports. */
final class Report(workload: String, h: Harness, setupS: Double,
    lake: Option[Lake], layers: Option[Counters], stateRows: Long,
    host0: Host, host1: Host) {
  private val ops = h.ops.toSeq
  private def steps(name: String): Seq[Double] =
    ops.flatMap(_.steps.collect { case (`name`, s) => s })

  /** Query latencies: registry queries, or in lake_writes the GraftLog
    * key lookups. The lake's other reads (named, cached, range, scan)
    * are few and of unlike cost, so a median over the mix sits on the
    * boundary between kinds and swings; they are per-layer metrics. */
  val querySamples: Seq[Double] = lake match {
    case None => ops.filter(_.kind == "queries").map(_.wallS)
    case Some(_) => steps("sources.point")
  }

  private val passes = ops.groupBy(_.unit).values.map(_.map(_.wallS).sum).toSeq
  private def nz(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Measured operations' time outside every layer call: the self time
    * of their root spans (harness bookkeeping between calls). */
  private def opSelfS: Double = {
    val spans = h.trace.spans
    val self = Trace.selfTimes(spans)
    val measured = ops.map(o => s"${o.kind}.${o.name}").toSet
    spans.filter(s => s.parent == -1 && measured(s.name)).map(s => self(s.id)).sum / 1e9
  }

  val tail: Option[Stats.Tail] = if (querySamples.isEmpty) None else Some(Stats.tail(querySamples))

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private val stealFrac: Double = {
    val total = host1.totalTicks - host0.totalTicks
    if (total <= 0) 0.0 else (host1.stealTicks - host0.stealTicks).toDouble / total
  }

  /** End-to-end metrics, reported by every workload. */
  def endToEnd: Seq[(String, (Double, String))] = {
    require(ops.nonEmpty && querySamples.nonEmpty, "no successful measured operation")
    Seq(
      "setup_s" -> (setupS, "s"),
      "query_p50_s" -> (Stats.median(querySamples), "s"),
      "query_tail_s" -> (tail.get.value, "s"),
      "pass_s" -> (Stats.median(passes), "s"),
      "cpu_per_op_s" -> (ops.map(_.cpuS).sum / ops.size, "s"),
      "peak_rss_mb" -> (peakRssMb, "MB"))
  }

  /** Per-layer metrics: every name is reported by every workload; a
    * layer the workload does not exercise reads 0. Counts and sizes are
    * per measured operation. */
  def perLayer: Seq[(String, (Double, String))] = {
    val c = layers.getOrElse(Counters())
    val n = math.max(1, ops.size).toDouble
    def per(v: Double) = v / n
    val mb = 1024.0 * 1024.0
    val registry = lake.isEmpty
    val (shRead, shPruned) = lake.map(l =>
      (l.shardCounts.map(_._1).sum.toDouble, l.shardCounts.map(_._2).sum.toDouble))
      .getOrElse((0.0, 0.0))
    val rounds = lake.map(_.shardCounts.size).getOrElse(0).max(1)
    val idle = h.probe.map(p => ops.map(o => p.idleMs(o.t0Ms, o.t1Ms)).sum / 1e3).getOrElse(0.0)
    val heavyWalls = Registry.Heavy.map { q =>
      s"queries.$q.wall_s" -> (nz(ops.filter(o => o.kind == "queries" && o.name == q).map(_.wallS)), "s")
    }
    val batchWalls = ops.filter(_.kind == "batch").map(_.wallS)
    def perBatch(step: String) =
      if (batchWalls.isEmpty) 0.0 else steps(step).sum / batchWalls.size
    val writes = Seq("sources.append", "sources.merge_into", "sources.delete").flatMap(steps)
    val reads = Seq("sources.point", "sources.range", "sources.scan").flatMap(steps)
    Seq(
      "queries.build_s" -> (if (registry) mean(steps("queries.build")) else 0.0, "s"),
      "queries.exec_s" -> (if (registry) mean(steps("queries.exec")) else 0.0, "s"),
      "spark.jobs" -> (per(c.jobs.toDouble), "count"),
      "spark.stages" -> (per(c.stages.toDouble), "count"),
      "spark.tasks" -> (per(c.tasks.toDouble), "count"),
      "spark.driver_gap_s" -> (per(idle), "s"),
      "spark.task_cpu_s" -> (per(c.taskCpuNs / 1e9), "s"),
      "spark.task_run_s" -> (per(c.taskRunMs / 1e3), "s"),
      "spark.gc_s" -> (per(c.gcMs / 1e3), "s"),
      "spark.shuffle_write_mb" -> (per(c.shuffleWrite / mb), "MB"),
      "spark.shuffle_read_mb" -> (per(c.shuffleRead / mb), "MB"),
      "spark.spill_mb" -> (per(c.spill / mb), "MB"),
      "spark.peak_task_mem_mb" -> (c.peakTaskMem / mb, "MB"),
      "spark.input_mb" -> (per(c.input / mb), "MB"),
      "spark.executions" -> (per(c.executions.toDouble), "count"),
      "plan.exchanges" -> (per(c.census.exchanges.toDouble), "count"),
      "plan.broadcast_exchanges" -> (per(c.census.broadcastExchanges.toDouble), "count"),
      "plan.smj" -> (per(c.census.smj.toDouble), "count"),
      "plan.shj" -> (per(c.census.shj.toDouble), "count"),
      "plan.bhj" -> (per(c.census.bhj.toDouble), "count"),
      "streaming.microbatches" -> (per(c.microbatches.toDouble), "count"),
      "streaming.state_rows_total" -> (per(stateRows.toDouble), "count")) ++
    heavyWalls ++ Seq(
      "pipeline.batch_freshness_s" -> (nz(batchWalls), "s"),
      "pipeline.rows_per_s" -> (lake.filter(_ => batchWalls.nonEmpty)
        .map(l => l.measuredCsvRows / batchWalls.sum).getOrElse(0.0), "1/s"),
      "ingest.ingest_all_s" -> (perBatch("ingest.ingest_all"), "s"),
      "pipeline.process_file_s" -> (perBatch("pipeline.process_file"), "s"),
      "pipeline.merge_s" -> (perBatch("pipeline.merge"), "s"),
      "store.rewrite_bytes_per_batch_byte" -> (lake.map(l => mean(l.rewriteRatios.toSeq)).getOrElse(0.0), "B/B"),
      "store.bytes_stored_per_input_byte" -> (lake.map(l => l.storedBytes.toDouble / l.inputBytes).getOrElse(0.0), "B/B"),
      "serve.query_s" -> (mean(steps("serve.query")), "s"),
      "serve.cache_miss_s" -> (mean(steps("serve.cache_miss")), "s"),
      "serve.cache_hit_s" -> (mean(steps("serve.cache_hit")), "s"),
      "serve.cache_hit_ratio" -> (lake.filter(_.cacheCalls > 0)
        .map(l => l.cacheHits.toDouble / l.cacheCalls).getOrElse(0.0), "ratio"),
      "sources.append_s" -> (mean(steps("sources.append")), "s"),
      "sources.merge_into_s" -> (mean(steps("sources.merge_into")), "s"),
      "sources.delete_s" -> (mean(steps("sources.delete")), "s"),
      "sources.point_s" -> (mean(steps("sources.point")), "s"),
      "sources.range_s" -> (mean(steps("sources.range")), "s"),
      "sources.scan_s" -> (mean(steps("sources.scan")), "s"),
      "sources.write_p50_s" -> (nz(writes), "s"),
      "sources.read_p50_s" -> (nz(reads), "s"),
      "sources.shards_read" -> (shRead / rounds, "count"),
      "sources.shards_pruned" -> (shPruned / rounds, "count"),
      "sources.pruned_frac" -> (if (shRead + shPruned > 0) shPruned / (shRead + shPruned) else 0.0, "ratio"),
      "sources.live_shards" -> (lake.map(_.liveShards.toDouble).getOrElse(0.0), "count"),
      "sources.optimize_s" -> (mean(steps("sources.optimize")), "s"),
      "sources.compact_s" -> (mean(steps("sources.compact")), "s"),
      "sources.vacuum_s" -> (mean(steps("sources.vacuum")), "s"),
      "sources.vacuum_reclaimed_mb" -> (lake.map(l => mean(l.vacuumBytes.map(_.toDouble).toSeq) / mb).getOrElse(0.0), "MB"),
      "host.steal_frac" -> (stealFrac, "ratio"),
      "host.load1" -> (host1.load1, "count"),
      "trace.listener_s" -> (per(c.listenerNs / 1e9), "s"),
      "trace.op_self_s" -> (per(opSelfS), "s"),
      "trace.spans" -> (per(h.trace.spans.size.toDouble), "count"))
  }

  /** Run context printed on its own line before the result. */
  def provenance: Seq[(String, Any)] = Seq(
    "workload" -> workload,
    "cpus" -> Runtime.getRuntime.availableProcessors(),
    "ops" -> ops.size,
    "setup_s" -> setupS,
    "pass_s" -> (if (passes.isEmpty) 0.0 else Stats.median(passes)),
    "query_samples" -> querySamples.size,
    "query_tail_pct" -> tail.map(_.pct).getOrElse(0),
    "query_tail_beyond" -> tail.map(_.beyond).getOrElse(0),
    "steal_frac" -> stealFrac,
    "load1_start" -> host0.load1,
    "load1_end" -> host1.load1) ++ lake.toSeq.flatMap(l => Seq(
    "input_bytes" -> l.inputBytes,
    "stored_bytes" -> l.storedBytes))
}
