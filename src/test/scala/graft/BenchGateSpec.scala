package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.QueryRun

/** Bench's write-time gate (`Bench.contention` + `Bench.recordName`):
  * which full sf0.1 sweep may become the file of record that
  * SuiteTimeLintSpec reads. Judged on seeded synthetic maps shaped like
  * this box's sweeps: 355 queries, a ~1 s median, a lognormal tail.
  *
  * The case that matters is the r16 record. Its steal was 2.5% of the
  * machine over the whole loop (under the 3% limit) and its mean passed
  * both lint tests, but a burst doubled ~12 alphabetically adjacent
  * queries and pushed two of them over the budget. A gate that sees
  * steal only averaged over the loop admits it. */
class BenchGateSpec extends AnyFunSuite {

  private val nCores = 32

  private def names = (1 to 355).map(i => f"q$i%03d_x")

  /** A quiet sweep: lognormal times around 0.98 s, every query losing
    * 0.3% of the machine to steal in its window. */
  private def quiet(seed: Long): Seq[QueryRun] = {
    val rnd = new scala.util.Random(seed)
    names.map { n =>
      val sec = 0.98 * math.exp(0.5 * rnd.nextGaussian())
      QueryRun(n, sec, 0.0, 0.0, 0.003 * sec * nCores)
    }
  }

  /** Loop wall time: the timed windows plus the untimed housekeeping
    * between them (r16: 508.8 s of query time in a 648.4 s loop). */
  private def wallOf(runs: Seq[QueryRun]): Double =
    1.27 * runs.map(_.sec).filter(_ >= 0).sum

  private def median(runs: Seq[QueryRun]): Double = {
    val ts = runs.map(_.sec).filter(_ >= 0).sorted
    ts(ts.size / 2)
  }

  private def loopFrac(runs: Seq[QueryRun], wall: Double): Double =
    runs.map(_.stealSec).sum / (wall * nCores)

  /** The r16 shape: 12 adjacent queries from `from` run 2×, one of them
    * over the budget, and steal added to their windows until the whole
    * loop lost `loopSteal` of the machine. */
  private def burst(base: Seq[QueryRun], from: Int,
      loopSteal: Double): (Seq[QueryRun], Double) = {
    val hit = from until from + 12
    val over = from + 5
    val budget = Bench.timeBudget(median(base))
    val timed = base.zipWithIndex.map { case (r, i) =>
      if (i == over) r.copy(sec = 1.2 * budget)
      else if (hit.contains(i)) r.copy(sec = 2 * r.sec)
      else r
    }
    val wall = wallOf(timed)
    val quietSteal = timed.zipWithIndex
      .collect { case (r, i) if !hit.contains(i) => r.stealSec }.sum
    val extra = loopSteal * wall * nCores - quietSteal
    val hitSec = hit.map(i => timed(i).sec).sum
    val runs = timed.zipWithIndex.map { case (r, i) =>
      if (hit.contains(i)) r.copy(stealSec = extra * r.sec / hitSec) else r
    }
    (runs, wall)
  }

  private def gate(runs: Seq[QueryRun], wall: Double,
      cpus: String = nCores.toString,
      loopSteal: Option[Double] = None): (String, Option[String]) = {
    val why = Bench.contention(runs,
      loopSteal.getOrElse(runs.map(_.stealSec).sum), wall, nCores)
    (Bench.recordName(why.isDefined, cpus, nCores), why)
  }

  test("a quiet sweep becomes the file of record") {
    for (seed <- 1L to 5L) {
      val runs = quiet(seed)
      assert(gate(runs, wallOf(runs)) === ("BENCH_LOCAL.json", None),
        s"seed $seed")
    }
  }

  test("a steal burst under the whole-loop limit is quarantined when " +
      "it inflates a query over the budget") {
    for (seed <- 1L to 5L) {
      val (runs, wall) = burst(quiet(seed), 200, 0.025)
      val ts = runs.map(_.sec)
      val mean = ts.sum / ts.size
      val med = median(runs)
      // the shape the r16 record had: every whole-loop test passes
      assert(loopFrac(runs, wall) < Bench.stealLimit)
      assert(mean <= 1.15 * Bench.speedOf(med))
      assert(mean <= Bench.contendedMeanCeiling)
      assert(ts.count(_ > Bench.timeBudget(med)) === 1)
      val (name, why) = gate(runs, wall)
      assert(name === "BENCH_LOCAL_contended.json", s"seed $seed")
      assert(why.exists(_.startsWith("q206_x")), why)
    }
  }

  test("an over-budget query timed without a steal burst is admitted, " +
      "so the lint still judges it") {
    val base = quiet(7)
    val slow = base.updated(100,
      base(100).copy(sec = 1.2 * Bench.timeBudget(median(base))))
    assert(gate(slow, wallOf(slow)) === ("BENCH_LOCAL.json", None))
  }

  test("steal over 3% of the whole loop still quarantines") {
    // 3.5% of the machine over the loop, most of it between the timed
    // windows: no query's own window stands out
    val runs = quiet(3)
    val wall = wallOf(runs)
    val (name, why) = gate(runs, wall, loopSteal = Some(0.035 * wall * nCores))
    assert(name === "BENCH_LOCAL_contended.json")
    assert(why.exists(_.contains("timed loop")), why)
  }

  test("a mean over contendedMeanCeiling still quarantines") {
    // uniform contention: every query 1.7× slower, so the median
    // rises WITH the mean and only the absolute ceiling can see it
    val runs = quiet(4).map(r => r.copy(sec = 1.7 * r.sec))
    val ts = runs.map(_.sec)
    val mean = ts.sum / ts.size
    assert(mean > Bench.contendedMeanCeiling)
    assert(mean <= 1.15 * Bench.speedOf(median(runs)))
    val (name, why) = gate(runs, wallOf(runs))
    assert(name === "BENCH_LOCAL_contended.json")
    assert(why.exists(_.contains("ceiling")), why)
  }

  test("a reduced-width run keeps its width in the file name") {
    val runs = quiet(5)
    assert(gate(runs, wallOf(runs), cpus = "8")._1 === "BENCH_LOCAL_c8.json")
    val (hot, wall) = burst(runs, 40, 0.025)
    assert(gate(hot, wall, cpus = "8")._1 ===
      "BENCH_LOCAL_contended_c8.json")
  }
}
