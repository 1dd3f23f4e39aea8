package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench's per-query measurement on the shared session: a query that throws
  * becomes an error entry, never a time. */
class BenchSpec extends SparkSpec {
  private val good: (SparkSession, String) => DataFrame =
    (s, d) => Tables.region(s, d)
  private val boom: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("boom")

  test("a query that throws is recorded as an error and left out of the totals") {
    val ok = Bench.measure(spark, sfDir, 1, "good", good)
    val bad = Bench.measure(spark, sfDir, 1, "boom", boom)
    assert(ok.error.isEmpty && ok.repsS.size == 1 && ok.med > 0)
    assert(bad.error.contains("java.lang.IllegalStateException: boom"))
    assert(bad.repsS.isEmpty)
    assert(Bench.totals(Seq(ok, bad)) == ((ok.med, ok.min)))
    val entry = Bench.detailEntry(bad, 7)
    assert(entry == "\"boom\":{\"error\":\"java.lang.IllegalStateException: boom\",\"ord\":7}")
    assert(Bench.detailEntry(ok, 0).startsWith("\"good\":{\"med\":"))
  }

  test("a query that fails only in a timed rep is an error too") {
    var calls = 0
    val flaky: (SparkSession, String) => DataFrame = (s, d) => {
      calls += 1
      if (calls > 1) throw new RuntimeException(s"call $calls") else Tables.region(s, d)
    }
    val m = Bench.measure(spark, sfDir, 3, "flaky", flaky)
    assert(m.error.exists(_.startsWith("java.lang.RuntimeException: call ")), m)
  }

  test("a contended query whose rerun throws keeps the error") {
    val first = Bench.Measured("q", med = 1.0, min = 0.5, repsS = Seq(0.5, 1.0, 2.0),
      contended = true)
    val m = Bench.isolate(first, () => Bench.Measured("q", error = Some("x: y")))
    assert(m.error.contains("x: y"))
    assert(Bench.totals(Seq(m)) == ((0.0, 0.0)))
  }

  test("a clean rerun replaces the contended median and records where its series starts") {
    val first = Bench.Measured("q", med = 1.0, min = 0.5, repsS = Seq(0.5, 1.0, 2.0),
      contended = true)
    val m = Bench.isolate(first, () => Bench.Measured("q", med = 0.45, min = 0.4,
      repsS = Seq(0.4, 0.45, 0.5)))
    assert(!m.contended && m.medFrom == 3 && m.med == 0.45 && m.min == 0.4)
    assert(m.repsS == Seq(0.5, 1.0, 2.0, 0.4, 0.45, 0.5))
  }

  test("a canary that throws is an error point, with no time") {
    val bad = Bench.canaryPoint(spark, sfDir, 25, boom)
    assert(bad == Bench.CanaryPoint(25, error = Some("java.lang.IllegalStateException: boom")))
    assert(Bench.canaryEntry(bad) ==
      "{\"ord\":25,\"error\":\"java.lang.IllegalStateException: boom\"}")
    val ok = Bench.canaryPoint(spark, sfDir, 0, good)
    assert(ok.error.isEmpty && ok.s > 0)
    assert(Bench.canaryEntry(ok).matches("\\{\"ord\":0,\"s\":[0-9.]+\\}"), Bench.canaryEntry(ok))
  }

  test("median averages the two middle reps of an even count") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
