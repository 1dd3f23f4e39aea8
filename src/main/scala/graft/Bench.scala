package graft
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The JIT-quiescence protocol shared by Bench's timed reps and ProbeQ's
  * isolated adjudication readings — ONE implementation so the two can
  * never drift apart (a protocol tune applied to only one of them would
  * silently desynchronize the adjudication instrument from the numbers it
  * adjudicates). */
private[graft] object JitQuiesce {
  def jitMillis(): Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime else -1L
  }

  /** Sleep until the compiler goes quiet (compilation-time delta < 15 ms
    * over a 100 ms window; capped). Returns waited ms — spent only while
    * the JIT is actually active, and always OUTSIDE timed regions. */
  def await(capMs: Long = 3000L): Long = {
    val start = System.nanoTime()
    var prev = jitMillis()
    if (prev < 0) return 0L // not monitorable on this JVM
    var waited = 0L
    var quiet = false
    while (!quiet && waited < capMs) {
      Thread.sleep(100)
      waited = (System.nanoTime() - start) / 1000000L
      val now = jitMillis()
      quiet = now - prev < 15
      prev = now
    }
    waited
  }
}

/** Driver-run benchmark: every registered query timed at the given scale
  * factor; one JSON line on stdout, the full per-query record in
  * BENCH_DETAIL.json. A small untimed warmup first so JVM/codegen/
  * datasource initialization isn't attributed to whichever query happens
  * to run first. A query that throws is recorded as an `"error"` in the
  * detail file and left out of both totals; Bench then exits 1, after the
  * stdout line and the detail file are written.
  */
object Bench {
  /** One query's measurement. `repsS` keeps EXECUTION ORDER (r09 verdict
    * #7: med/min spreads up to 2.7x inside full-suite runs were opaque — the
    * detail file shows whether rep 1 or rep 3 carries the inflation, i.e.
    * leftover warmup vs. intermittent external contention). `medFrom` is
    * the `repsS` index the published median's series starts at (0 = all
    * reps; -1 = no rerun happened), so the median is always recomputable
    * from the detail file (r12 ADVICE). `error` is `"<class>: <msg>"` of a
    * query that threw; its times are meaningless and never published. */
  final case class Measured(name: String, med: Double = 0, min: Double = 0,
      repsS: Seq[Double] = Nil, ccMb: Long = 0, gcMs: Long = 0,
      jitMs: Long = 0, jitWaitMs: Long = 0, contended: Boolean = false,
      medFrom: Int = -1, error: Option[String] = None)

  /** True median: the mean of the two middle elements when the count is
    * even (the element at n/2 alone would report the upper of the two). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  // Materialize FULL rows of the query's own plan (toRdd.count), not
  // df.count(): count() plans a new aggregate through which Catalyst
  // prunes every unconsumed column — a projection-heavy query could
  // "run" without ever evaluating its payload expressions (quality_gate
  // measured 0.3s under count() vs ~6s when its output was actually
  // consumed; found via the r06 curation_e2e investigation). toRdd
  // executes the exact optimized plan and writes every output column
  // into UnsafeRows, which is what a real consumer pays. (r06 protocol
  // change — see BENCH_HISTORY.md.)
  private def run(df: DataFrame): Long = df.queryExecution.toRdd.count()

  // JVM self-diagnosis (r08): the r07 full-suite bench showed 25-30x
  // in-context inflation on interpreted-expression-heavy queries
  // (doc_winnowing 46.9s in the 253-query sequence vs 1.7s isolated) —
  // the signature of a full JIT code cache (compilation stops, everything
  // runs interpreted). Per query we record code-cache occupancy, the GC
  // time delta, and the JIT compilation-time delta across the timed reps,
  // so an in-suite pathology is identified by the detail file itself
  // instead of needing a post-hoc rerun.
  private def codeCache(): (Long, Long) = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") ||
        p.getName.contains("CodeCache"))
    (pools.map(_.getUsage.getUsed).sum, pools.map(_.getUsage.getMax).sum)
  }
  private def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  // Contention detector (r10 verdict #3): a rep spread > 1.5x over a
  // non-trivial floor is the external-load signature the per-rep arrays
  // exposed (r10 full-suite run: corr_spearman [3.70, 39.16, 3.37] — an
  // 11.6x mid-rep spike with a stable min). The 0.15 s floor keeps
  // sub-100 ms queries (where 1.5x is scheduler jitter, not contention)
  // out of the rerun loop.
  private def contended(ts: Seq[Double]): Boolean =
    ts.min > 0.15 && ts.max / ts.min > 1.5

  /** One query under the warm protocol: [[Session.reset]] and a GC tick,
    * untimed warm pass(es), JIT quiescence, then `reps` timed reps — all of
    * it with the given session. A throw anywhere yields an `error` entry
    * instead of times. */
  def measure(spark: SparkSession, sfDir: String, reps: Int, name: String,
      fn: (SparkSession, String) => DataFrame): Measured = {
    // Reset cross-query state so every query is timed from the same
    // block-manager baseline (r07 protocol; see BENCH_HISTORY.md): in a
    // 164-query sequential run the late-alphabet dedup/CC/vector family
    // inherited up to 163 predecessors' worth of retained blocks — the
    // likely cause of the r06 full-suite 5.6x on knn_q8_rescore while
    // the same commit ran 0.4s in isolation. The GC tick gives the
    // ContextCleaner one sweep; all of it OUTSIDE the timed reps.
    Session.reset(spark)
    System.gc()
    try {
      val jitBeforeWarm = JitQuiesce.jitMillis()
      run(fn(spark, sfDir))
      // r09 mitigation: the r08 counters proved the code cache never fills
      // (146 MB / 1 GB) but 490 s of cumulative JIT thread time still ran
      // CONCURRENTLY with timed reps — on a saturated local[32] box the C2
      // threads steal cores from the rep being measured. So wait for the
      // compiler to go quiet (shared JitQuiesce protocol, see its
      // scaladoc) before the timed reps; waited ms is jit_wait_ms.
      var jitWaitMs = JitQuiesce.await()
      // compile-heavy queries (the r08 tail: 3-6 s of JIT thread time inside
      // 1-2 s timed reps) get a SECOND untimed warm pass — the first one is
      // what provokes the compilation, the second runs against the already-
      // compiled methods, so the timed reps start from steady state
      if (JitQuiesce.jitMillis() - jitBeforeWarm > 1000) {
        run(fn(spark, sfDir))
        jitWaitMs += JitQuiesce.await()
      }
      val (gc0, jit0) = (gcMillis(), JitQuiesce.jitMillis())
      def timedRep(): Double = {
        val t0 = System.nanoTime()
        run(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      var times = (1 to reps).map(_ => timedRep())
      val flagged = contended(times)
      // up to 2 extra reps so the median is computed from a majority of
      // uncontended readings; extras append in execution order. The
      // regression gate runs on minima, which extra reps can only refine.
      var extra = 0
      while (extra < 2 && contended(times)) { times :+= timedRep(); extra += 1 }
      Measured(name, median(times), times.min, times, codeCache()._1 >> 20,
        gcMillis() - gc0, JitQuiesce.jitMillis() - jit0, jitWaitMs, flagged)
    } catch { case e: Throwable =>
      Measured(name, error = Some(s"${e.getClass.getName}: ${e.getMessage}"))
    }
  }

  /** Self-isolation rerun (r11 verdict #5; widened r12 verdict #6) of a
    * contended measurement: contention in a full-suite run is typically a
    * CONCURRENT phase (e.g. a DuckDB oracle compare) that has drained by the
    * time the suite finishes — so every flagged query gets a fresh
    * measurement pass at the end, and (r13) a SECOND isolated retry if the
    * first rerun is still contended (corr_spearman's 29 s spikes survived
    * r12's single pass). A clean fresh series (spread <= 1.5x) replaces the
    * median and clears the flag; a still-contended final series keeps the
    * flag with the median over ALL reps. Minima only ever refine. */
  def isolate(first: Measured, again: () => Measured): Measured = {
    var m = first.copy(medFrom = 0)
    var attempts = 0
    while (attempts < 2 && m.contended && m.error.isEmpty) {
      val fresh = again()
      val all = m.repsS ++ fresh.repsS
      m = if (fresh.error.isDefined) m.copy(error = fresh.error)
        else m.copy(
          med = median(if (fresh.contended) all else fresh.repsS),
          min = math.min(m.min, fresh.min), repsS = all,
          // PEAK across all series, not last-rerun (r13 ADVICE): cc_mb
          // exists to catch code-cache pressure, which the flagged query's
          // FIRST contended series may have seen and the rerun not
          ccMb = math.max(m.ccMb, fresh.ccMb), gcMs = m.gcMs + fresh.gcMs,
          jitMs = m.jitMs + fresh.jitMs,
          jitWaitMs = m.jitWaitMs + fresh.jitWaitMs,
          contended = fresh.contended,
          medFrom = if (fresh.contended) 0 else m.repsS.size)
      attempts += 1
    }
    m
  }

  /** Sums of per-query medians and minima over the queries that did not
    * throw. The sum of MINIMA is the contention-robust companion number:
    * the min over reps is the best estimate of intrinsic query cost when
    * the host is intermittently loaded (the r05 full-suite run measured 8-13x
    * on exactly the high-parallelism queries while the same commit ran
    * 40.8s locally — see BENCH_HISTORY.md); medians remain the headline. */
  def totals(results: Seq[Measured]): (Double, Double) = {
    val ok = results.filter(_.error.isEmpty)
    (ok.map(_.med).sum, ok.map(_.min).sum)
  }

  private def fmt(v: Double): String = f"$v%.3f"

  /** One query's BENCH_DETAIL.json entry; `ord` is its run position. */
  def detailEntry(m: Measured, ord: Int): String =
    Verify.jsonString(m.name) + ":" + (m.error match {
      case Some(e) => "{\"error\":" + Verify.jsonString(e) + ",\"ord\":" + ord + "}"
      case None =>
        "{\"med\":" + fmt(m.med) + ",\"min\":" + fmt(m.min) +
          ",\"reps_s\":" + m.repsS.map(fmt).mkString("[", ",", "]") +
          ",\"ord\":" + ord +
          (if (m.medFrom >= 0) ",\"med_from\":" + m.medFrom else "") +
          ",\"cc_mb\":" + m.ccMb + ",\"gc_ms\":" + m.gcMs +
          ",\"jit_ms\":" + m.jitMs + ",\"jit_wait_ms\":" + m.jitWaitMs +
          (if (m.contended) ",\"contended\":true" else "") + "}"
    })

  /** One canary reading at run position `ord`: its time, or the
    * `"<class>: <msg>"` of a canary that threw, whose time means nothing. */
  final case class CanaryPoint(ord: Int, s: Double = 0, error: Option[String] = None)

  def canaryPoint(spark: SparkSession, sfDir: String, ord: Int,
      fn: (SparkSession, String) => DataFrame): CanaryPoint = {
    val t0 = System.nanoTime()
    try {
      run(fn(spark, sfDir))
      CanaryPoint(ord, (System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      CanaryPoint(ord, error = Some(s"${e.getClass.getName}: ${e.getMessage}"))
    }
  }

  def canaryEntry(p: CanaryPoint): String = p.error match {
    case Some(e) => s"""{"ord":${p.ord},"error":${Verify.jsonString(e)}}"""
    case None => s"""{"ord":${p.ord},"s":${fmt(p.s)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cores(4))
    // warmup: JVM + codegen + parquet reader/footer init for EVERY table
    // (untimed) — otherwise whichever query alphabetically touches a table
    // first is charged its cold-read cost and per-query numbers aren't
    // comparable across rounds. Each table warms independently so one bad
    // read can't skip the rest; a table that cannot be read fails the
    // queries that use it, which record it.
    try { spark.range(1000).selectExpr("sum(id)").collect() }
    catch { case _: Throwable => } // then every query fails, and records why
    Tables.names.foreach { n =>
      try Tables.table(spark, sfDir, n).count()
      catch { case _: Throwable => } // each query reading `n` records why
    }
    // Protocol (since r04): an untimed warm pass per query first, so the
    // timed numbers are steady-state execution throughput, not one-shot
    // codegen-compile latency (measured 2-4x gap on expression-heavy
    // queries). r01-r03 history is single-run/cold.
    //
    // Since r05 the timed pass repeats REPS times (default 3) and the
    // reported number is the MEDIAN (min also recorded in the detail
    // file) — single-VM noise was ±20% with one rep, which made per-query
    // regressions undiagnosable across rounds (see BENCH_HISTORY.md).
    val reps = scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_REPS", "3").trim.toInt)
      .getOrElse(3).max(1)
    // Run order: SEEDED SHUFFLE, not alphabetical (r12 verdict #6). The r12
    // driver run showed 20 queries at >=1.5x driver-vs-builder minima, all
    // CONTIGUOUS in the alphabetical order (tpch_q1x/ts_*/u*) — co-located
    // load late in the suite integrates into whole-query wall time and
    // always lands on the same tail queries. Shuffling spreads any
    // time-localized external load across a different query subset per run
    // instead of pooling it; the seed is recorded in the detail JSON (and
    // overridable via SPARK_GRAFT_BENCH_SEED) so a run's order is exactly
    // reconstructible, and each entry records its run position as "ord".
    val seed = sys.env.get("SPARK_GRAFT_BENCH_SEED")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .getOrElse(System.nanoTime())
    val runOrder = new scala.util.Random(seed)
      .shuffle(SparkEntry.queries.toSeq.sortBy(_._1))
    // Canary (r13 verdict #4): a FIXED cheap query (tpch_q6 — one scan +
    // filter + agg, ~0.1 s at sf0.1) timed once every CanaryEvery run
    // positions. Its series is a load thermometer sampled THROUGH the run:
    // a ≥1.5x flag whose ord window shows the canary inflated is machine
    // load (the r12 ord 31-36 / r13 ord 324-326 clusters), one with a flat
    // canary is code — decided by data already in the detail file instead
    // of a manual ProbeQ round-trip per flag. One timed rep per point: the
    // canary measures AMBIENT load, its own variance is the signal, and
    // plan/codegen caches make re-execution cheap after the one warm run.
    val CanaryEvery = 25
    val canaryName = "tpch_q6"
    val canary = scala.collection.mutable.ArrayBuffer.empty[CanaryPoint]
    val canaryFn = SparkEntry.queries.get(canaryName)
    canaryFn.foreach(canaryPoint(spark, sfDir, -1, _)) // the untimed warm run
    def canaryAt(ord: Int): Unit =
      canaryFn.foreach(f => canary += canaryPoint(spark, sfDir, ord, f))
    val firstPass = runOrder.zipWithIndex.map { case ((n, f), ord) =>
      if (ord % CanaryEvery == 0) canaryAt(ord)
      measure(spark, sfDir, reps, n, f)
    }
    canaryAt(runOrder.size)
    val results = firstPass.map { r =>
      if (!r.contended) r
      else isolate(r, () => measure(spark, sfDir, reps, r.name, SparkEntry.queries(r.name)))
    }
    val (total, totalMin) = totals(results)
    val ok = results.filter(_.error.isEmpty)
    val failed = results.filter(_.error.isDefined).map(_.name)
    // Full per-query detail goes to a file; the stdout line must stay well
    // under the harness's 2000-char output-tail capture or it is unparseable
    // (the r01/r02 89-entry line overflowed the tail and parsed as null).
    // The printed "queries" map carries the slowest queries that fit a
    // ~1200-char budget; "detail" points at the complete map.
    val nContended = results.count(_.contended)
    val detailPath = "BENCH_DETAIL.json"
    val allQs = results.zipWithIndex.map { case (m, ord) => detailEntry(m, ord) }
      .mkString("{", ",", "}")
    val (ccEnd, ccMax) = codeCache()
    val jvmJson = s"""{"cc_used_mb":${ccEnd >> 20},"cc_max_mb":${ccMax >> 20},"gc_s":${fmt(gcMillis() / 1000.0)},"jit_s":${fmt(JitQuiesce.jitMillis() / 1000.0)}}"""
    val canaryJson = "{\"q\":\"" + canaryName + "\",\"points\":" +
      canary.map(canaryEntry).mkString("[", ",", "]") + "}"
    try {
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      try w.println(s"""{"metric":"total","value":${fmt(total)},"value_min":${fmt(totalMin)},"unit":"sec","mode":"warm","reps":$reps,"n_contended":$nContended,"n_failed":${failed.size},"bench_seed":$seed,"jvm":$jvmJson,"canary":$canaryJson,"queries":$allQs,"sf":"$sfDir"}""")
      finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $detailPath: $e")
    }
    val budget = 1200
    val picked = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 0
    ok.sortBy(-_.med).foreach { m =>
      val entryLen = m.name.length + fmt(m.med).length + 4
      if (used + entryLen <= budget) { picked += ((m.name, m.med)); used += entryLen }
    }
    val qs = picked.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"value_min":${fmt(totalMin)},"unit":"sec","mode":"warm","reps":$reps,"n_queries":${results.size},"n_contended":$nContended,"bench_seed":$seed,"jvm":$jvmJson,"queries":$qs,"detail":"$detailPath","sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
