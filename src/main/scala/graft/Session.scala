package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe every entry point (Bench, Verify, the tools, the
  * test suite) runs with, and the one per-query reset between measured or
  * dumped queries. */
object Session {
  /** A local session on `cores` cores, one shuffle partition per core, UTC,
    * no UI, ERROR logging (stray WARN lines around Bench's final JSON line
    * can push it out of a bounded output-tail capture), with the graft
    * functions, strategies and rules registered by [[Tables.tune]]. The log
    * level is a context setting, so it holds from the context's start:
    * lowered after `getOrCreate` it let about 40 start-up INFO lines out. */
  def local(cores: Int): SparkSession = Tables.tune(SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    .config("spark.log.level", "ERROR")
    .getOrCreate())

  /** `SPARK_GRAFT_CPUS` if set, else `default`. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** Cross-query isolation: drop the blocks pinned by localCheckpoints a
    * query's build took (held until the ContextCleaner's next GC-driven
    * sweep), any cached plan, and any `spark.graft.*` knob a query left
    * set — so no query's time or result depends on the queries before it. */
  def reset(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    spark.conf.getAll.keys.filter(_.startsWith("spark.graft.")).foreach(spark.conf.unset)
  }
}
