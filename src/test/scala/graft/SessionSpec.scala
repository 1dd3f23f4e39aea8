package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.storage.StorageLevel

/** The one session recipe and the one per-query reset. */
class SessionSpec extends SparkSpec {

  test("Session.local applies the recipe: UTC, one shuffle partition per core, " +
      "no UI, every graft function resolvable") {
    assert(Session.local(4) eq spark, "getOrCreate must hand back the shared session")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.getConf.get("spark.log.level") == "ERROR",
      "the log level must be set before the context starts")
    val reg = spark.sessionState.functionRegistry
    val missing = GraftFunctions.all.map(_._1).filterNot(reg.functionExists)
    assert(missing.isEmpty, s"unregistered functions: $missing")
  }

  test("Session.reset drops persisted RDDs, cached plans and spark.graft.* keys") {
    val rdd = spark.sparkContext.parallelize(1 to 100).persist()
    rdd.count()
    val df = spark.range(10).toDF("x").cache()
    df.count()
    spark.conf.set("spark.graft.x", "1")
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    Session.reset(spark)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(df.storageLevel == StorageLevel.NONE, "the cached plan survived the reset")
    assert(spark.conf.getOption("spark.graft.x").isEmpty)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "the reset must leave the recipe's settings alone")
  }

  test("only Session (and GenSf1, which must read raw timestamps) builds a " +
      "session, and only Session resets one") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def containing(s: String): Set[String] = sources
      .filter(p => Files.readString(p).contains(s))
      .map((p: Path) => p.getFileName.toString).toSet
    assert(containing("SparkSession.builder") == Set("Session.scala", "GenSf1.scala"))
    assert(containing("getPersistentRDDs") == Set("Session.scala"))
  }
}
