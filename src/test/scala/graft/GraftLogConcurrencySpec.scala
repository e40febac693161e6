package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.GraftLog

/** Concurrent-writer conflict contract (the matrix documented on
  * GraftLog's claim block): shard-index claims + exclusive-link
  * publish make appends safe against each other and against a
  * staging rewrite, with append-wins semantics for rewrites — no
  * lost rows, no duplicated rows, no orphaned shards, under real
  * thread races. Structural ∥ structural (r13): every swap commit
  * validates its read generation under the lock — driver-side
  * rewrites RETRY on loss (compact ∥ delete converges on the
  * combined outcome), V2 write jobs abort loudly (a re-run
  * converges). Cross-PROCESS (r13/r14): structural commits, schema
  * DDL, and the append publish all serialize through the advisory
  * flock — two real JVMs appending concurrently keep snapshot
  * tokens prefix-monotonic (gated below with a forked child
  * process running graft.tools.AppendProc).
  */
class GraftLogConcurrencySpec extends SparkSuite {
  import spark.implicits._

  private val fmt = "graft.sources.GraftLogSource"

  private def feed(lo: Long, hi: Long) = spark.range(lo, hi)
    .select($"id".as("event_id"),
      to_timestamp_ntz(lit("2024-01-01 00:00:00")).as("ts"),
      ($"id" % 7).as("user_id"), lit("click").as("event_type"),
      ($"id" % 100).cast("double").as("value"))

  private def append(dir: String, lo: Long, hi: Long): Unit =
    feed(lo, hi).coalesce(1).write.format(fmt).mode("append").save(dir)

  private def ids(dir: String): Seq[Long] =
    spark.read.format(fmt).load(dir)
      .select($"event_id").as[Long].collect().sorted.toSeq

  private def listNames(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toSeq

  test("concurrent appends: claims prevent name collisions — " +
      "every row lands exactly once") {
    val dir = tmpDir("glog-conc").toString
    val threads = 4
    val batches = 5
    val rows = 100L
    val work = (0 until threads).map { t =>
      Future {
        (0 until batches).foreach { b =>
          val lo = t * 100000L + b * rows
          append(dir, lo, lo + rows)
        }
      }
    }
    Await.result(Future.sequence(work), 120.seconds)
    val got = ids(dir)
    val want = (for {
      t <- 0 until threads; b <- 0 until batches
      i <- 0L until rows
    } yield t * 100000L + b * rows + i).sorted
    assert(got === want, "every appended row exactly once")
    // one shard per non-empty commit, all indices distinct
    val shards = listNames(dir).filter(_.endsWith(".graftlog"))
    assert(shards.size === shards.distinct.size)
    assert(shards.size === threads * batches)
    assert(!listNames(dir).exists(_.endsWith(".tmp")),
      "no orphaned staging tmps")
  }

  test("appends racing a compaction: append wins — no lost rows, " +
      "no duplicate indices, table converges") {
    val dir = tmpDir("glog-conc").toString
    feed(0, 1000).write.format(fmt).mode("append")
      .option("shards", 10).save(dir)
    val appender = Future {
      (0 until 10).foreach { b =>
        append(dir, 10000L + b * 50, 10000L + (b + 1) * 50)
      }
    }
    val compactor = Future {
      // sequential structural rewrites (single-structural-writer),
      // each racing whatever appends are in flight
      (0 until 3).foreach { _ => GraftLog.compact(spark, dir, 4) }
    }
    Await.result(Future.sequence(Seq(appender, compactor)), 180.seconds)
    val want = ((0L until 1000L) ++ (10000L until 10500L)).sorted
    assert(ids(dir) === want,
      "compaction must retire exactly what it read; racing appends survive")
    val shards = listNames(dir).filter(_.endsWith(".graftlog"))
    assert(shards.size === shards.distinct.size)
    assert(!listNames(dir).exists(n =>
      n.startsWith(".") && n.endsWith(".tmp")), "no orphaned hidden tmps")
    // vacuum reclaims retired generations + published claims; the
    // table still reads identically
    GraftLog.vacuum(dir)
    assert(ids(dir) === want)
    assert(!listNames(dir).exists(n => n.startsWith("_claim.") && {
      val i = """shard-(\d+)""".r.findFirstMatchIn(n).get.group(1).toInt
      shards.exists(_.startsWith(f"shard-$i%05d"))
    }), "published claims reclaimed")
  }

  test("appends racing optimize: bins cover exactly the listed tail; " +
      "racing micro-appends survive") {
    val dir = tmpDir("glog-conc").toString
    feed(0, 1000).write.format(fmt).mode("append")
      .option("shards", 1).save(dir) // one settled shard
    (0 until 6).foreach { b => // the small tail to bin
      append(dir, 5000L + b * 20, 5000L + (b + 1) * 20)
    }
    val appender = Future {
      (0 until 8).foreach { b =>
        append(dir, 9000L + b * 20, 9000L + (b + 1) * 20)
      }
    }
    val optimizer = Future {
      (0 until 3).foreach { _ =>
        GraftLog.optimize(spark, dir,
          GraftLog.listShards(dir).map(_.bytes).max / 2)
      }
    }
    Await.result(Future.sequence(Seq(appender, optimizer)), 180.seconds)
    val want = ((0L until 1000L) ++ (5000L until 5120L) ++
      (9000L until 9160L)).sorted
    assert(ids(dir) === want,
      "optimize must retire exactly the tail it listed; racing " +
        "micro-appends survive (append-wins)")
    val shards = listNames(dir).filter(_.endsWith(".graftlog"))
    assert(shards.size === shards.distinct.size)
    assert(!listNames(dir).exists(n =>
      n.startsWith(".") && n.endsWith(".tmp")), "no orphaned hidden tmps")
  }

  test("appends racing a deletion-vector commit: vectors bind the " +
      "listed snapshot; appended rows unaffected") {
    val dir = tmpDir("glog-conc").toString
    feed(0, 1000).write.format(fmt).mode("append")
      .option("shards", 10).save(dir)
    val appender = Future {
      (0 until 5).foreach { b =>
        // windows INSIDE the deleted key RANGE but holding no key
        // (start ≡ 1 mod 13, length 10): whether a window's shard is
        // listed before or after the delete, the outcome is the same
        // — range-overlap binding suppresses only PRESENT keys — so
        // the assertion is interleaving-independent
        append(dir, 2081L + b * 2080, 2091L + b * 2080)
      }
    }
    val deleter = Future {
      GraftLog.deleteVectors(dir, (0L until 21000L by 13).toSeq)
    }
    Await.result(Future.sequence(Seq(appender, deleter)), 120.seconds)
    val fromAppends = (0 until 5).flatMap(b =>
      2081L + b * 2080 until 2091L + b * 2080)
    val want = ((0L until 1000L).filterNot(_ % 13 == 0) ++ fromAppends)
      .sorted
    assert(ids(dir).sorted === want,
      "the dv delete suppresses exactly its present keys; racing " +
        "appends survive under any interleaving")
  }

  test("appends racing a range delete: the delete applies to the " +
      "snapshot it read; appended rows survive") {
    val dir = tmpDir("glog-conc").toString
    feed(0, 1000).write.format(fmt).mode("append")
      .option("shards", 10).save(dir)
    val appender = Future {
      (0 until 5).foreach { b =>
        append(dir, 2000L + b * 100, 2000L + (b + 1) * 100)
      }
    }
    val deleter = Future { GraftLog.deleteWhere(dir, 0L, 499L) }
    Await.result(Future.sequence(Seq(appender, deleter)), 120.seconds)
    val want = ((500L until 1000L) ++ (2000L until 2500L)).sorted
    assert(ids(dir) === want)
  }

  test("a structural commit against a stale generation fails loudly") {
    val dir = tmpDir("glog-conc").toString
    feed(0, 200).write.format(fmt).mode("append")
      .option("shards", 2).save(dir)
    val g0 = """g(\d+)\.""".r
      .findFirstMatchIn(GraftLog.currentVersion(dir)).get.group(1).toLong
    // another structural writer lands (dv delete bumps the generation)
    GraftLog.deleteVectors(dir, Seq(5L))
    val e = intercept[graft.sources.GraftLogConcurrentWriteException] {
      GraftLog.commitSwap(dir, Nil, Nil, Nil, expectGen = Some(g0))
    }
    assert(e.getMessage.contains("structural generation moved"))
  }

  test("roll-forward REFUSES a manifest whose staged tmp was " +
      "destroyed — no silent shard loss") {
    val dir = tmpDir("glog-conc").toString
    feed(0, 100).write.format(fmt).mode("append")
      .option("shards", 1).save(dir)
    val g = GraftLog.generation(dir)
    // a committed manifest whose staged tmp an external cleanup has
    // already destroyed: neither .gone.tmp nor shard-00099 exists.
    // Completing it silently would write a sidecar for a shard with
    // no bytes — lost inserts + phantom sidecar-served aggregates.
    Files.write(Paths.get(dir, "_swap.manifest"),
      (s"gen|$g\npromote|.gone.tmp|shard-00099.graftlog|0|0|1\n")
        .getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      GraftLog.applySwapIfPresent(dir)
    }
    assert(e.getMessage.contains("NEITHER"), e.getMessage)
    assert(!Files.exists(Paths.get(dir, "shard-00099.meta")),
      "the phantom sidecar must NOT be written")
    // operator abandons the broken operation explicitly; reads heal
    Files.delete(Paths.get(dir, "_swap.manifest"))
    assert(ids(dir) === (0L until 100L))
    // a COMPLETED entry (fin exists, tmp consumed) still replays as a
    // no-op — crash-replay idempotence is untouched
    Files.write(Paths.get(dir, "_swap.manifest"),
      (s"gen|$g\npromote|.gone2.tmp|shard-00000.graftlog|0|99|100\n")
        .getBytes("UTF-8"))
    GraftLog.applySwapIfPresent(dir)
    assert(ids(dir) === (0L until 100L))
  }

  test("compact ∥ range delete CONVERGE: optimistic retry yields the " +
      "combined outcome — no lost rows, no resurrections") {
    (0 until 3).foreach { round =>
      val dir = tmpDir("glog-conc").toString
      feed(0, 1000).write.format(fmt).mode("append")
        .option("shards", 10).save(dir)
      val compactor = Future { GraftLog.compact(spark, dir, 3) }
      val deleter = Future { GraftLog.deleteWhere(dir, 200L, 599L) }
      Await.result(Future.sequence(Seq(compactor, deleter)), 120.seconds)
      val want = ((0L until 200L) ++ (600L until 1000L)).sorted
      assert(ids(dir) === want,
        s"round $round: deleted rows stay deleted, kept rows stay — " +
          "whatever the interleaving")
      assert(!listNames(dir).exists(_.endsWith(".tmp")),
        s"round $round: no orphaned staging tmps")
      // the surviving layout still reads consistently via its token
      val tok = GraftLog.currentVersion(dir)
      assert(spark.read.format(fmt).option("version", tok).load(dir)
        .count() === want.size.toLong)
    }
  }

  test("compact ∥ range delete ∥ dv delete ∥ optimize ∥ append: every " +
      "structural loser retries and the final state is EXACT") {
    (0 until 3).foreach { round =>
      val dir = tmpDir("glog-conc").toString
      feed(0, 1000).write.format(fmt).mode("append")
        .option("shards", 10).save(dir)
      val work = Seq(
        Future { GraftLog.compact(spark, dir, 4) },
        Future { GraftLog.deleteWhere(dir, 200L, 299L) },
        Future { GraftLog.deleteVectors(dir, Seq(501L, 502L, 503L)) },
        Future { GraftLog.optimize(spark, dir, 1L << 20) },
        Future { append(dir, 5000L, 5100L) })
      Await.result(Future.sequence(work), 180.seconds)
      val got = ids(dir)
      val want = ((0L until 1000L)
        .filterNot(i => i >= 200L && i <= 299L)
        .filterNot(Set(501L, 502L, 503L)) ++ (5000L until 5100L)).sorted
      assert(got.distinct.size === got.size, s"round $round: duplicated ids")
      assert(got === want, s"round $round: the range is gone, the dv keys " +
        "are suppressed, the appended rows are present")
      assert(!listNames(dir).exists(_.endsWith(".tmp")),
        s"round $round: no orphaned staging tmps")
    }
  }

  test("a listed shard retired by a later commit still reports its " +
      "size, as optimize's binning and dv echoes read it") {
    val dir = tmpDir("glog-conc").toString
    feed(0, 200).write.format(fmt).mode("append")
      .option("shards", 2).save(dir)
    val listed = GraftLog.listShards(dir)
    val sizes = listed.map(_.bytes)
    GraftLog.deleteWhere(dir, 0L, 99L) // retires the first shard
    assert(!Files.exists(Paths.get(listed.head.file)))
    assert(listed.map(_.bytes) === sizes)
  }

  test("compact ∥ compact converge: one retries, rows bit-stable") {
    val dir = tmpDir("glog-conc").toString
    feed(0, 1000).write.format(fmt).mode("append")
      .option("shards", 10).save(dir)
    val a = Future { GraftLog.compact(spark, dir, 2) }
    val b = Future { GraftLog.compact(spark, dir, 4) }
    Await.result(Future.sequence(Seq(a, b)), 120.seconds)
    assert(ids(dir) === (0L until 1000L).sorted)
    assert(!listNames(dir).exists(_.endsWith(".tmp")))
  }

  test("delta MERGE ∥ compact: the merge aborts loudly on loss and a " +
      "re-run converges") {
    def isConflict(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[
        graft.sources.GraftLogConcurrentWriteException] ||
        isConflict(t.getCause))
    val base = tmpDir("glog-conc-m").toString
    spark.conf.set("spark.sql.catalog.concm",
      "graft.sources.GraftLogCatalog")
    spark.conf.set("spark.sql.catalog.concm.base", base)
    val dir = s"$base/t"
    feed(0, 1000).write.format(fmt).mode("append")
      .option("shards", 10).save(dir)
    feed(0, 1000).filter($"event_id" % 97 === 0)
      .withColumn("value", lit(-1.0))
      .createOrReplaceTempView("conc_merge_src")
    def mergeOnce(): Unit = spark.sql(
      """MERGE INTO concm.t t USING conc_merge_src s
          ON t.event_id = s.event_id
          WHEN MATCHED THEN UPDATE SET value = s.value""")
    val merger = Future {
      try mergeOnce()
      catch { case e: Throwable if isConflict(e) => mergeOnce() }
    }
    val compactor = Future { GraftLog.compact(spark, dir, 3) }
    Await.result(Future.sequence(Seq(merger, compactor)), 120.seconds)
    val cur = spark.read.format(fmt).load(dir)
    assert(cur.count() === 1000L)
    assert(cur.filter($"value" === -1.0)
      .select($"event_id").as[Long].collect().sorted.toSeq ===
      (0L until 1000L).filter(_ % 97 == 0),
      "the merge's updates all landed exactly once, compact preserved " +
        "every row — whatever the interleaving")
    assert(!listNames(dir).exists(_.endsWith(".tmp")),
      "no orphaned staging/dv-stage tmps")
  }

  test("two PROCESSES appending: snapshot tokens never observe a " +
      "mutated prefix (flocked publish)") {
    val dir = tmpDir("glog-xproc").toString
    feed(0, 200).write.format(fmt).mode("append")
      .option("shards", 2).save(dir)
    // child JVM: 30 publishAppend batches from id 100000 — the same
    // job-commit path this JVM uses, but across a process boundary
    val javaBin = Paths.get(System.getProperty("java.home"),
      "bin", "java").toString
    val childOut = Files.createTempFile("xproc", ".log").toFile
    val proc = new ProcessBuilder(javaBin,
        "-cp", System.getProperty("java.class.path"),
        "graft.tools.AppendProc", dir, "100000", "30", "20")
      .redirectErrorStream(true)
      .redirectOutput(childOut)
      .start()
    // parent appends its own 30 batches from id 200000 concurrently
    val parentDone = Future {
      (0 until 30).foreach { b =>
        append(dir, 200000L + b * 20L, 200000L + (b + 1) * 20L)
      }
    }
    // sampler: mint tokens DURING the race and pin each one's shard
    // resolution the moment it is minted
    val seen = scala.collection.mutable
      .ArrayBuffer.empty[(String, Seq[String])]
    while (proc.isAlive || !parentDone.isCompleted) {
      val tok = GraftLog.currentVersion(dir)
      seen += ((tok, GraftLog.shardsAt(dir, Some(tok)).map(_.file)))
      Thread.sleep(5)
    }
    assert(proc.waitFor() === 0,
      s"child appender failed: ${scala.io.Source.fromFile(childOut)
        .mkString.takeRight(400)}")
    Await.result(parentDone, 120.seconds)
    // prefix monotonicity: AFTER quiescence every sampled token must
    // resolve to exactly the shard set it pinned at mint time — a
    // late cross-process publish reordering names would mutate some
    // token's prefix (the pre-flock failure mode)
    seen.foreach { case (tok, files) =>
      assert(GraftLog.shardsAt(dir, Some(tok)).map(_.file) === files,
        s"token $tok resolved a DIFFERENT shard set after the race")
    }
    assert(seen.size > 10, "the sampler actually raced the appends")
    // and both processes' rows landed exactly once
    val got = ids(dir)
    val want = ((0L until 200L) ++
      (100000L until 100600L) ++ (200000L until 200600L)).sorted
    assert(got === want)
    assert(!listNames(dir).exists(_.endsWith(".tmp")),
      "no orphaned publish tmps from either process")
  }

  test("structural-lock SPI: default flock provider is active; a " +
      "misbehaving provider fails structural sections LOUDLY") {
    val dir = tmpDir("glog-lockspi").toString
    feed(0, 100).write.format(fmt).mode("append")
      .option("shards", 1).save(dir)
    assert(GraftLog.structuralLockProvider eq
      GraftLog.FlockStructuralLock)
    // default provider: DDL round-trips and drops the lock file in
    GraftLog.addColumn(dir, "w",
      org.apache.spark.sql.types.LongType, Some("1"))
    assert(Files.exists(Paths.get(dir, "_structural.lock")))
    val schemaBefore = GraftLog.extSchema(dir).map(_.name)
    // a provider that cannot lock must throw — and the structural
    // section must then NOT run (no half-applied DDL, no commit)
    GraftLog.structuralLockProvider =
      new GraftLog.StructuralLockProvider {
        override def acquire(p: String): AutoCloseable =
          throw new IllegalStateException("lock service unreachable")
      }
    try {
      val e = intercept[IllegalStateException] {
        GraftLog.addColumn(dir, "x",
          org.apache.spark.sql.types.LongType, None)
      }
      assert(e.getMessage.contains("lock service unreachable"))
      assert(GraftLog.extSchema(dir).map(_.name) === schemaBefore,
        "the failed acquire left the schema untouched")
      // a null-handle provider (silent non-lock) is refused too
      GraftLog.structuralLockProvider =
        new GraftLog.StructuralLockProvider {
          override def acquire(p: String): AutoCloseable = null
        }
      intercept[IllegalArgumentException] {
        GraftLog.addColumn(dir, "x",
          org.apache.spark.sql.types.LongType, None)
      }
      assert(GraftLog.extSchema(dir).map(_.name) === schemaBefore)
    } finally
      GraftLog.structuralLockProvider = GraftLog.FlockStructuralLock
    // restored: the same DDL now lands
    GraftLog.addColumn(dir, "x",
      org.apache.spark.sql.types.LongType, None)
    assert(GraftLog.extSchema(dir).map(_.name) === Seq("w", "x"))
  }
}
