package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.plans.{AsOfJoinPhysical, YearRangeRewrite}
import graft.tools.Inspect

/** The session factory (`Session`), the shared query-name filter
  * (`SparkEntry.picks`) and the inspect tool's modes, run on the
  * suite's own session. */
class SessionSpec extends SparkSuite {
  private val audit = "spark.graft.sketchAudit"

  test("Session.local: local[n], n shuffle partitions, UTC, no UI; " +
      "graft functions and extensions registered") {
    val s = Session.local(4)
    assert(s eq spark, "getOrCreate hands back the suite's session")
    assert(s.sparkContext.master === "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(s.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("graft_dot")))
    assert(s.experimental.extraOptimizations.contains(YearRangeRewrite))
    assert(s.experimental.extraStrategies
      .contains(AsOfJoinPhysical.AsOfStrategy))
    assert(!s.conf.getOption(audit).contains("false"),
      "only the bench session drops the sketch audit")
  }

  test("a second Session.local adds no duplicate rule or strategy") {
    Session.local(4)
    val s = Session.local(4)
    assert(s.experimental.extraOptimizations.count(_ == YearRangeRewrite) === 1)
    assert(s.experimental.extraStrategies
      .count(_ == AsOfJoinPhysical.AsOfStrategy) === 1)
  }

  test("Session.bench turns the sketch audit off") {
    val before = spark.conf.getOption(audit)
    try assert(Session.bench(4).conf.get(audit) === "false")
    finally before match {
      case Some(v) => spark.conf.set(audit, v)
      case None => spark.conf.unset(audit)
    }
  }

  test("picks keeps Bench's and Verify's name-or-prefix semantics") {
    // the filter Bench and Verify each carried before sharing this one
    def before(only: Option[String])(name: String): Boolean =
      only.map(_.split(",").toSet)
        .forall(_.exists(p => name == p || name.startsWith(p)))
    val names = SparkEntry.queries.keys.toSeq
    Seq(None, Some("q1"), Some("q85,q94"), Some("q100_pagerank"),
        Some("q3,q31_"), Some("q03_"), Some("nope"), Some("")).foreach { o =>
      assert(names.filter(SparkEntry.picks(o)) === names.filter(before(o)),
        s"only = $o")
    }
    assert(SparkEntry.picks(Some("q85,q94"))("q94_x"))
    assert(!SparkEntry.picks(Some("q03_"))("q030_x"))
    assert(names.count(SparkEntry.picks(Some("q100_pagerank"))) === 1)
  }

  test("run and explain return each query's rows and plan") {
    val Seq(ran) = Inspect.run(spark, Seq("q03_total_cost_per_customer"),
      sf0001)
    assert(ran.rows.nonEmpty && ran.sec > 0)
    val out = tmpDir("inspect-explain")
    val Seq((name, plan)) = Inspect.explain(spark,
      Seq("q03_total_cost_per_customer"), sf0001, Some(out.toString))
    assert(plan.contains("== Physical Plan =="))
    assert(Files.readString(out.resolve(s"$name.txt")) === plan)
  }

  test("plans on q75 captures an executed plan per label round") {
    val out = tmpDir("inspect-plans")
    val Seq((_, actions)) = Inspect.plans(spark, Seq("q75_dedup_clusters"),
      sf0001, Some(out.toString))
    // connected components pins every label round with a localCheckpoint
    assert(actions.count(_._1 == "localCheckpoint") >= 3, actions.map(_._1))
    assert(actions.last._1 === "count")
    assert(Files.exists(Paths.get(out.toString, "q75_dedup_clusters.txt")))
  }

  test("profile reports the measured rep's jobs and the gap between them") {
    val Seq(p) = Inspect.profile(spark, Seq("q100_pagerank"), sf0001)
    assert(p.rows > 0)
    assert(p.jobs.nonEmpty)
    assert(p.jobs.forall(j => j.t1 >= j.t0 && j.t0 > 0),
      "every job's end was drained before the report")
    assert(p.gapSec > 0 && p.gapSec < p.sec)
  }
}
