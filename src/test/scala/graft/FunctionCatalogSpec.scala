package graft

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.objects.Invoke

/** Pins the V2 FunctionCatalog seam (GraftLogCatalog as
  * FunctionCatalog): catalog-qualified resolution from SQL text
  * alone, the ScalarFunction MAGIC-METHOD plan shape (a codegen'd
  * Invoke, not the row-boxing produceResult fallback), and value
  * agreement with the session-registered codegen Expressions (shared
  * kernels). */
class FunctionCatalogSpec extends SparkSuite {
  import spark.implicits._

  private def install(): Unit = {
    spark.conf.set("spark.sql.catalog.gfn",
      "graft.sources.GraftLogCatalog")
    spark.conf.set("spark.sql.catalog.gfn.base",
      tmpDir("gfn_base_").toString)
  }

  test("catalog-qualified graft_nfc resolves from SQL text alone") {
    install()
    // decomposed e + COMBINING ACUTE (U+0301) composes to é under NFC
    val decomposed = "Cafe\u0301"
    val got = spark.sql(
      s"SELECT gfn.graft_nfc('$decomposed') AS s").as[String].head()
    assert(got == "Caf\u00e9")
    assert(got.length == 4 && decomposed.length == 5)
    // null propagates
    assert(spark.sql("SELECT gfn.graft_nfc(CAST(NULL AS STRING)) AS s")
      .as[String].head() == null)
  }

  test("magic-method plan shape: a codegen'd Invoke, not produceResult") {
    install()
    val df = spark.sql("SELECT gfn.graft_nfc('abc') AS s")
    val hasInvoke = df.queryExecution.analyzed.expressions.exists(
      _.exists(_.isInstanceOf[Invoke]))
    assert(hasInvoke,
      "expected the ScalarFunction magic method to resolve to Invoke:\n" +
        df.queryExecution.analyzed.treeString)
  }

  test("catalog graft_dot agrees with the session-registered kernel") {
    install()
    GraftFunctionsFixture.ensure(spark)
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.0f, 2.0f)))
      .toDF("a", "b")
    df.createOrReplaceTempView("gfn_vecs")
    val viaCatalog = spark.sql(
      "SELECT gfn.graft_dot(a, b) AS d FROM gfn_vecs").as[Double].head()
    val viaRegistry = spark.sql(
      "SELECT graft_dot(a, b) AS d FROM gfn_vecs").as[Double].head()
    assert(viaCatalog == viaRegistry)
    assert(viaCatalog == 1.0 * 0.5 + 2.0 * -1.0 + 3.0 * 2.0)
  }

  test("SHOW FUNCTIONS lists the catalog surface; unknown name rejects") {
    install()
    val shown = spark.sql("SHOW FUNCTIONS IN gfn").collect()
      .map(_.getString(0)).toSet
    assert(shown.exists(_.endsWith("graft_nfc")) &&
      shown.exists(_.endsWith("graft_dot")), shown.mkString(", "))
    intercept[Exception] {
      spark.sql("SELECT gfn.graft_nope(1)").collect()
    }
  }

  test("a second register leaves the registry unchanged and logs no warning") {
    val reg = spark.sessionState.functionRegistry
    GraftFunctionsFixture.ensure(spark)
    def graftFns() = reg.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).sorted
      .map(n => n -> reg.lookupFunction(FunctionIdentifier(n)).get)
    val before = graftFns()
    // other suites may add graft_* functions of their own
    assert(Set("graft_dot", "graft_freq_items").subsetOf(before.map(_._1).toSet))
    val warnings = GraftFunctionsFixture.warningsDuring {
      GraftFunctionsFixture.ensure(spark)
    }
    val after = graftFns()
    assert(after.map(_._1) === before.map(_._1))
    // a re-registration would store a fresh ExpressionInfo
    before.zip(after).foreach { case ((n, a), (_, b)) =>
      assert(a eq b, s"$n was registered again")
    }
    assert(!warnings.exists(_.contains("previously registered")),
      warnings.mkString("\n"))
  }
}

private object GraftFunctionsFixture {
  /** Messages logged at WARN or above while `f` runs. */
  def warningsDuring(f: => Unit): Seq[String] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-fn-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          got.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getRootLogger
    root.addAppender(app)
    try f finally { root.removeAppender(app); app.stop() }
    got.asScala.toSeq
  }

  def ensure(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.functions.GraftFunctions.register(spark)
}
