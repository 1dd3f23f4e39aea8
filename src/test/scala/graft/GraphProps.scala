package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.ops.DedupOps

/** Property suite for the graph/pair operators: the distributed algorithms
  * must agree with trivially-correct driver-side reference implementations
  * on arbitrary random inputs — the strongest correctness evidence available
  * for operators whose production inputs are unbounded graphs.
  */
object GraphProps extends Properties("graft.graph") {

  // each case spins several Spark jobs (CC rounds); 10 random graphs is
  // plenty of coverage at sane runtime
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  /** Reference union-find, path-halving, min-label roots. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      r
    }
    for ((a, b) <- pairs) {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  private val edgeGen: Gen[(Long, Long)] = for {
    a <- Gen.choose(0L, 40L)
    b <- Gen.choose(0L, 40L)
  } yield (a, b)

  property("connectedComponents equals driver-side union-find on random graphs") =
    forAll(Gen.listOfN(25, edgeGen)) { pairs =>
      val expected = unionFind(pairs.filter(p => p._1 != p._2))
      val got = DedupOps.connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == expected
    }

  property("jaccardPairs (guard disabled) equals brute-force token-set jaccard") =
    forAll(Gen.listOfN(8, Gen.listOfN(5, Gen.choose(0, 12)))) { docsToks =>
      val docs = docsToks.zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.map(t => s"tok$t").mkString(" "))
      }
      val sets = docs.map { case (id, t) => id -> t.split(" ").toSet }.toMap
      val expected = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = sets(a).intersect(sets(b)).size
        j = inter.toDouble / sets(a).union(sets(b)).size if inter > 0
      } yield (a, b) -> BigDecimal(j)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
      val got = DedupOps.jaccardPairs(docs.toDF("doc_id", "text"),
          maxDf = Long.MaxValue, minJaccard = 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      got == expected
    }

  /** Reference driver-side BFS: level-synchronous frontier over a map. */
  private def bfsRef(edges: Seq[(Long, Long)], source: Long,
      maxHops: Int): Map[Long, Int] = {
    val adj = edges.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val dist = scala.collection.mutable.Map(source -> 0)
    var frontier = Seq(source)
    for (h <- 1 to maxHops) {
      frontier = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .distinct.filterNot(dist.contains)
      frontier.foreach(n => dist(n) = h)
    }
    dist.toMap
  }

  property("bfsHops equals driver-side BFS on random directed graphs") =
    forAll(Gen.listOfN(25, edgeGen), Gen.choose(1, 4)) { (pairs, maxHops) =>
      val expected = bfsRef(pairs, source = 0L, maxHops)
      val got = GraphQueries
        .bfsHops(pairs.map(p => (p._1, p._2, 1L)), source = 0L, maxHops).toMap
      got == expected
    }

  property("wccRounds, when it reports convergence, equals driver-side " +
      "union-find on random graphs") =
    // 12 edges over 41 ids: about 3 in 4 such graphs converge within the
    // rounds (25 edges: about 1 in 30), each as several components
    forAll(Gen.listOfN(12, edgeGen)) { pairs =>
      val got = GraphQueries.wccRounds(pairs.map(p => (p._1, p._2, 1L)))
      // union-find roots are component minima, as are wcc's labels
      val expected = unionFind(pairs.filter(p => p._1 != p._2))
        .groupMapReduce(_._2)(_ => 1L)(_ + _).toSeq.sorted
      !got.forall(_._3) || got.map(r => (r._1, r._2)) == expected
    }

  private val wEdgeGen: Gen[(Long, Long, Long)] = for {
    a <- Gen.choose(0L, 15L)
    b <- Gen.choose(0L, 15L)
    w <- Gen.choose(1L, 5L)
  } yield (a, b, w)

  property("boruvkaRounds (in-plan merge) equals driver-side replay on " +
      "random weighted graphs") =
    forAll(Gen.listOfN(20, wEdgeGen)) { edges =>
      val clean = edges.filter(e => e._1 != e._2)
      clean.isEmpty || {
        val expected = BoruvkaReference.rounds(clean, 2)
        val und = clean.flatMap { case (s, d, w) => Seq((s, d, w), (d, s, w)) }
          .groupBy(e => (e._1, e._2))
          .map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq
        // mergeCap = 0 forces the IN-PLAN six-round merge (the default cap
        // would route every small random graph to the driver replay and
        // leave the in-plan joins untested here)
        val got = GraphQueries
          .boruvkaRounds(und.toDF("src", "dst", "w"), 2, mergeCap = 0)
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4))).toSeq.sorted
        got == expected
      }
    }
}

/** Driver-side replay of boruvkaRounds — the SAME synchronous min-label
  * fixpoint (run to convergence, matching the r10 converge-or-throw
  * semantics; the oracle's fixed 6 rounds agree whenever convergence lands
  * within 6). Shared by GraphProps and BoruvkaMergeSpec. */
private[graft] object BoruvkaReference {
  def rounds(edges: Seq[(Long, Long, Long)],
      nRounds: Int): Seq[(Int, Long, Long, Long, Long)] = {
    val und = edges.flatMap { case (s, d, w) => Seq((s, d, w), (d, s, w)) }
      .filter(e => e._1 != e._2)
      .groupBy(e => (e._1, e._2))
      .map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq
    var comp: Map[Long, Long] = und.map(_._1).distinct.map(n => n -> n).toMap
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Long, Long)]
    for (r <- 1 to nRounds) {
      val tagged = und
        .map { case (s, d, w) => (comp(s), comp(d), s, d, w) }
        .filter(t => t._1 != t._2)
      val picks = tagged.groupBy(_._1).map { case (_, ts) =>
        ts.minBy(t => (t._5, t._2, t._3, t._4)) }.toSeq
      val pp = picks.flatMap(p => Seq((p._1, p._2), (p._2, p._1))).distinct
      var lbl: Map[Long, Long] = comp.values.toSet.map((c: Long) => c -> c).toMap
      var changed = pp.nonEmpty
      while (changed) {
        val m = pp.groupBy(_._1)
          .map { case (ca, ps) => ca -> ps.map(p => lbl(p._2)).min }
        val next = lbl.map { case (cid, l) =>
          cid -> math.min(l, m.getOrElse(cid, l)) }
        changed = next != lbl
        lbl = next
      }
      comp = comp.map { case (n, c) => n -> lbl(c) }
      val nc = lbl.values.toSet.size.toLong
      out ++= picks
        .map(p => (r, math.min(p._3, p._4), math.max(p._3, p._4), p._5, nc))
        .distinct
    }
    out.toSeq.sorted
  }
}
