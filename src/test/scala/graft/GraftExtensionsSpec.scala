package graft

/** Wiring of the SparkSessionExtensions entry point. Full behavior of every
  * injected piece is exercised through Tables.tune's runtime registration
  * (the whole oracle suite runs through it); this pins that the conf-driven
  * path (`spark.sql.extensions=graft.GraftExtensions`) registers the same
  * surface without throwing — the mistake it guards against is a builder
  * that references a function/rule that fails to construct outside a live
  * session. */
class GraftExtensionsSpec extends SparkSpec {

  test("apply() injects functions, the as-of strategy, and both rules without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }

  test("both registration paths expose the SAME function list (r10 — they " +
      "had drifted by four functions)") {
    // the tuned session must resolve every GraftFunctions entry by name;
    // since both registrars iterate GraftFunctions.all, extension sessions
    // get the identical surface by construction
    Tables.tune(spark)
    val reg = spark.sessionState.functionRegistry
    val missing = GraftFunctions.all.map(_._1).filterNot(reg.functionExists)
    assert(missing.isEmpty, s"unregistered functions: $missing")
    assert(GraftFunctions.all.size >= 15, "the function list lost entries")
  }

  test("runtime (experimental) registration is idempotent — tune twice, registered once") {
    Tables.tune(spark)
    Tables.tune(spark)
    assert(GraftExtensions.strategies.nonEmpty && GraftExtensions.rules.size >= 4,
      "the extension lists lost entries")
    GraftExtensions.strategies.foreach { st =>
      val n = spark.experimental.extraStrategies.count(_ == st)
      assert(n == 1, s"strategy $st registered $n times")
    }
    GraftExtensions.rules.foreach { r =>
      val n = spark.experimental.extraOptimizations.count(_ == r)
      assert(n == 1, s"rule ${r.ruleName} registered $n times")
    }
  }
}
