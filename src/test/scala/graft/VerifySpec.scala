package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verify's dump loop on the shared session (never `Verify.main`: it stops
  * the session every other spec shares). */
class VerifySpec extends SparkSpec {

  test("dump writes every query that runs and returns the ones that threw") {
    val out = Files.createTempDirectory("graft-verify").toString
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok" -> ((s, d) => Tables.region(s, d)),
      "broken" -> ((_, _) => throw new IllegalStateException("injected")),
      "leaky" -> { (s, d) => s.conf.set("spark.graft.leak", "1"); Tables.nation(s, d) })
    assert(Verify.dump(spark, sfDir, out, queries) == Seq("broken"))
    assert(Files.exists(Paths.get(s"$out/ok/_SUCCESS")))
    assert(Files.exists(Paths.get(s"$out/leaky/_SUCCESS")))
    assert(!Files.exists(Paths.get(s"$out/broken")))
    assert(spark.read.parquet(s"$out/ok").count() == Tables.region(spark, sfDir).count())
    assert(spark.conf.getOption("spark.graft.leak").isEmpty,
      "a query's spark.graft.* knob leaked past the per-query reset")
  }

  test("jsonString escapes quotes, backslashes and control characters") {
    assert(Verify.jsonString("a\"b\\c\td\u0001") == "\"a\\\"b\\\\c\\td\\u0001\"")
  }
}
