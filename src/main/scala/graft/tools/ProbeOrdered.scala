package graft.tools

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{Session, Tables}

/** Dev probe (r14): same-JVM A/B of the OrderedOps rewrite — the r13 `.rdd`
  * two-pass forms (inlined here verbatim as the "old" arms) vs the shipped
  * codegen forms. Cross-JVM ProbeQ comparisons drift 1.5-2x under host load
  * (the ProbeCorpus lesson), so both arms run interleaved in one session.
  * Usage: runMain graft.tools.ProbeOrdered <sfDir>
  */
object ProbeOrdered {
  // ---- r13 forms, verbatim ----
  def cumSumsByKeyOld(df: DataFrame, keyCol: String, valCols: Seq[String],
      partitions: Int = 32): DataFrame = {
    val s = df.sparkSession
    val n = valCols.length
    val prepared = df.select(
      (col(keyCol).cast("long").as(keyCol) +:
        valCols.map(c => col(c).cast("long").as(c))): _*)
    val sorted = prepared
      .repartitionByRange(partitions, col(keyCol))
      .sortWithinPartitions(keyCol)
      .localCheckpoint()
    val totals = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val acc = new Array[Long](n)
      it.foreach { r =>
        var i = 0; while (i < n) { acc(i) += r.getLong(i + 1); i += 1 }
      }
      Iterator.single(pid -> acc)
    }.collect().sortBy(_._1).map(_._2)
    val offsets = totals.scanLeft(new Array[Long](n)) { (a, b) =>
      Array.tabulate(n)(i => a(i) + b(i))
    }
    val bc = s.sparkContext.broadcast(offsets)
    val rdd = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val run = bc.value(pid).clone()
      it.map { r =>
        var i = 0; while (i < n) { run(i) += r.getLong(i + 1); i += 1 }
        Row.fromSeq(r.toSeq ++ run.toSeq)
      }
    }
    val schema = StructType(sorted.schema.fields ++
      valCols.map(v => StructField(s"cum_$v", LongType, nullable = false)))
    s.createDataFrame(rdd, schema)
  }

  def globalRankOld(df: DataFrame, sortExprs: Seq[org.apache.spark.sql.Column],
      partitions: Int = 32): DataFrame = {
    val s = df.sparkSession
    val sorted = df
      .repartitionByRange(partitions, sortExprs: _*)
      .sortWithinPartitions(sortExprs: _*)
      .localCheckpoint()
    val counts = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var c = 0L
      while (it.hasNext) { it.next(); c += 1 }
      Iterator.single(pid -> c)
    }.collect().sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _)
    val bc = s.sparkContext.broadcast(offsets)
    val rdd = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var rn = bc.value(pid)
      it.map { r => rn += 1; Row.fromSeq(r.toSeq :+ rn) }
    }
    s.createDataFrame(rdd, StructType(sorted.schema.fields :+
      StructField("g_rank", LongType, nullable = false)))
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.local(Session.cores(32))
    val li = Tables.lineitem(spark, d)

    // the agg_weighted_percentile dom: distinct cent-scaled price + weight
    def dom() = li.select(
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("vc"),
        (col("l_quantity").cast("decimal(12,2)") * 100).cast("long").as("w"))
      .groupBy("vc").agg(sum(col("w")).as("w"))
    // the rfm per-customer slice for globalRank
    def cust() = Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_acctbal"))

    def run(df: DataFrame): Long = df.queryExecution.toRdd.count()
    def times(label: String, reps: Int)(f: => DataFrame): Unit = {
      run(f) // warm
      graft.JitQuiesce.await()
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); run(f); (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[ordered] $label%-34s med=${ts(ts.size / 2)}%6.3f min=${ts.head}%6.3f")
    }
    // interleaved A/B, two rounds, so ambient drift hits both arms alike
    (1 to 2).foreach { round =>
      times(s"cumSums OLD (rdd) r$round", 3) {
        cumSumsByKeyOld(dom(), "vc", Seq("w")) }
      times(s"cumSums NEW (codegen) r$round", 3) {
        graft.ops.OrderedOps.cumSumsByKey(dom(), "vc", Seq("w")) }
      times(s"globalRank OLD (rdd) r$round", 3) {
        globalRankOld(cust(), Seq(col("c_acctbal").asc, col("c_custkey").asc)) }
      times(s"globalRank NEW (codegen) r$round", 3) {
        graft.ops.OrderedOps.globalRank(cust(),
          Seq(col("c_acctbal").asc, col("c_custkey").asc)) }
    }
    // equivalence spot-check (hash of sorted output)
    val oldH = cumSumsByKeyOld(dom(), "vc", Seq("w"))
      .orderBy("vc").collect().map(_.toString).mkString.hashCode
    val newH = graft.ops.OrderedOps.cumSumsByKey(dom(), "vc", Seq("w"))
      .orderBy("vc").collect().map(_.toString).mkString.hashCode
    println(s"[ordered] cumSums hash old=$oldH new=$newH equal=${oldH == newH}")
    val oldR = globalRankOld(cust(), Seq(col("c_acctbal").asc, col("c_custkey").asc))
      .orderBy("c_custkey").collect().map(_.toString).mkString.hashCode
    val newR = graft.ops.OrderedOps.globalRank(cust(),
        Seq(col("c_acctbal").asc, col("c_custkey").asc))
      .orderBy("c_custkey").collect().map(_.toString).mkString.hashCode
    println(s"[ordered] g_rank hash old=$oldR new=$newR equal=${oldR == newR}")
    spark.stop()
  }
}
