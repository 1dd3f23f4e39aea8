package graft

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics derived from the relational core: the edge list is built
  * with ordinary (shuffle-once) joins at fact scale, then the iteration runs
  * on the aggregated graph — nodes/edges, not rows. Most of the family runs
  * over the nation trade graph, at most 25² edges at every scale factor, so
  * those queries collect the edge list into one row and run their rounds as
  * a pure Scala function in one task ([[onEdgeList]]): the build starts no
  * job, and the round functions are plain Scala that specs call without
  * Spark. Triangles, common neighbors, the degree histogram and
  * assortativity need no rounds and stay DataFrame plans; Borůvka stays
  * in-plan because its component count grows with the data, and corpus-scale
  * connected components run on the large/small-star operator
  * (dedup_clusters).
  */
object GraphQueries {
  import Tables._

  /** Damping/teleport written as independent literals, NOT computed from
    * each other: Scala's `1 - 0.85` is 0.15000000000000002 while both
    * engines' literal `0.15` is the nearest double to 0.15 — the constants
    * must enter both plans through the same decimal string. */
  private val Damping = 0.85
  private val Teleport = 0.15
  private val Rounds = 3

  /** The nation-level trade graph: edge src→dst weighted by how many
    * lineitems a customer of nation `src` bought from a supplier of nation
    * `dst`. Fact-scale joins happen ONCE (dims broadcast onto the fact);
    * everything iterative downstream touches only the ≤ N² aggregate. */
  private def tradeEdges(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").cast("long").as("src"),
        col("s_nationkey").cast("long").as("dst"))
      .agg(count(lit(1)).as("w"))

  /** Strong-tie sparsifier: the [[StrongTies]] heaviest non-self trade
    * pairs (ties broken by (src, dst), so the selection is total-ordered
    * and cross-engine deterministic), folded undirected. The r10 form was
    * a scale-PROPORTIONAL threshold (400·w ≥ |fact|) — it looks right but
    * empties out as sf grows: pair weights concentrate at the mean
    * |fact|/n² (CLT shrinks relative Poisson noise), so any fixed multiple
    * of the mean selects nothing once counts are large. Measured: 87
    * strong directed pairs at sf0.01, 0 at sf0.1, 0 at sf1 — the family
    * was running on an empty graph at bench scale. Top-k is the
    * scale-INVARIANT parameterization ("the k heaviest trade routes"):
    * nonempty and meaningful at every sf, O(E log k) on the ≤ n²
    * aggregate, and the oracle replays it as ORDER BY + LIMIT. */
  private val StrongTies = 40
  private def strongTieEdges(s: SparkSession, d: String): DataFrame =
    tradeEdges(s, d).filter(col("src") =!= col("dst"))
      .orderBy(col("w").desc, col("src"), col("dst")).limit(StrongTies)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** At most this many trade edges: one per (customer nation, supplier
    * nation) pair, and the nation table holds 25 rows at every sf. */
  private val MaxEdges = 25 * 25

  /** Runs `f` over a whole edge frame of long columns (src, dst, w) in one
    * task: the edges are collected into one row
    * (`collect_list(struct(...))`), `f` runs on them in a `udf`, and its
    * rows come back exploded as columns `_1`, `_2`, …. It adds one
    * shuffle, the collect's, and building it starts no job. Refuses more
    * than [[MaxEdges]] edges, because they all sit in one task. */
  private[graft] def onEdgeList[T <: Product : TypeTag](edges: DataFrame)(
      f: Seq[(Long, Long, Long)] => Seq[T]): DataFrame = {
    val run = udf { (es: Seq[Row]) =>
      require(es.size <= MaxEdges,
        s"got ${es.size} edges, more than the $MaxEdges nation pairs")
      f(es.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    }
    edges.agg(collect_list(struct(col("src"), col("dst"), col("w"))).as("edges"))
      .select(explode(run(col("edges"))).as("r"))
      .select("r.*")
  }

  /** `f` over the trade graph, each of its rows keyed by its first field's
    * nation name (column `n_name`) followed by the other fields as `cols`. */
  private def perNation[T <: Product : TypeTag](s: SparkSession, d: String,
      cols: String*)(f: Seq[(Long, Long, Long)] => Seq[T]): DataFrame =
    onEdgeList(tradeEdges(s, d))(f).toDF("node" +: cols: _*)
      .join(nation(s, d), col("node") === col("n_nationkey"))
      .select(col("n_name") +: cols.map(col): _*)

  /** The undirected weighted graph of an edge list, as adjacency lists:
    * self edges dropped, the weights of (a, b) and (b, a) summed, each
    * list sorted by neighbor. */
  private def undirected(edges: Seq[(Long, Long, Long)]): Map[Long, Seq[(Long, Long)]] =
    edges.filter(e => e._1 != e._2)
      .flatMap { case (a, b, w) => Seq((a, b) -> w, (b, a) -> w) }
      .groupMapReduce(_._1)(_._2)(_ + _)
      .toSeq.sorted
      .groupMap(_._1._1) { case ((_, b), w) => (b, w) }

  /** Spark's own `round(x, 6)` on a double: HALF_UP on the shortest decimal
    * representation of `x`. */
  private[graft] def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue

  /** `Rounds` synchronous weighted PageRank rounds over an edge list
    * (src, dst, w): f = w / out_w per edge, mass = Σ f·r per dst, folded in
    * (src, dst) order, r′ = round6(teleport + Damping·mass). `source` empty
    * is the global form (start and teleport uniform over the nodes),
    * `Some(v)` the personalized one (both the indicator of `v`). Returns
    * (node, rank) for every endpoint. */
  private[graft] def rankRounds(edges: Seq[(Long, Long, Long)],
      source: Option[Long]): Seq[(Long, Double)] = {
    val sorted = edges.sortBy(e => (e._1, e._2))
    val outW = sorted.groupMapReduce(_._1)(_._3)(_ + _)
    val frac = sorted.map { case (src, dst, w) => (src, dst, w.toDouble / outW(src)) }
    val nodes = (sorted.map(_._1) ++ sorted.map(_._2)).distinct.sorted
    val n = nodes.size
    // each term is the double expression the oracle's SQL computes
    val (start, teleport): (Long => Double, Long => Double) = source match {
      case None => (_ => 1.0 / n, _ => Teleport / n)
      case Some(s) => (v => if (v == s) 1.0 else 0.0, v => if (v == s) Teleport else 0.0)
    }
    var ranks = nodes.map(v => v -> start(v)).toMap
    for (_ <- 1 to Rounds) {
      val mass = frac.foldLeft(Map.empty[Long, Double].withDefaultValue(0.0)) {
        case (m, (src, dst, f)) => m.updated(dst, m(dst) + f * ranks(src))
      }
      ranks = nodes.map(v => v -> round6(teleport(v) + Damping * mass(v))).toMap
    }
    nodes.map(v => v -> ranks(v))
  }

  /** `graph_pagerank`: weighted PageRank over the trade graph, `Rounds`
    * synchronous rounds of [[rankRounds]], the rank vector rounded to 6 dp
    * per round — the proven cross-engine float recipe (sum-order noise
    * ~1e-16 ≪ the 1e-6 grid), so a scripted DuckDB WITH-chain replays all
    * rounds to the same hash. Only the edge aggregate is fact-scale; the
    * rounds take one task and no job of their own. */
  private def pagerank(s: SparkSession, d: String): DataFrame =
    perNation(s, d, "rank")(rankRounds(_, None))
      .orderBy(col("rank").desc, col("n_name"))

  private val pagerankSql = {
    val iter = (i: Int) =>
      s"""r$i AS (
         |  SELECT n.node,
         |         round(CAST($Teleport AS DOUBLE) / (SELECT count(*) FROM nodes)
         |           + CAST($Damping AS DOUBLE) * coalesce(m.mass, CAST(0.0 AS DOUBLE)), 6) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT f.dst AS node, SUM(f.f * p.r) AS mass
         |    FROM frac f JOIN r${i - 1} p ON f.src = p.node
         |    GROUP BY f.dst) m ON m.node = n.node)""".stripMargin
    s"""WITH edges AS (
       |  SELECT CAST(c.c_nationkey AS BIGINT) AS src,
       |         CAST(s.s_nationkey AS BIGINT) AS dst, count(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |frac AS (
       |  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / ow.out_w AS f
       |  FROM edges e JOIN (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src) ow
       |    ON e.src = ow.src),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM frac UNION ALL SELECT dst FROM frac)),
       |r0 AS (SELECT node,
       |         CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM nodes) AS r
       |       FROM nodes),
       |${(1 to Rounds).map(iter).mkString(",\n")}
       |SELECT n.n_name, r$Rounds.r AS rank
       |FROM r$Rounds JOIN nation n ON r$Rounds.node = n.n_nationkey
       |ORDER BY rank DESC, n_name""".stripMargin
  }

  /** `graph_ppr`: PERSONALIZED PageRank from nation 0 — the teleport mass
    * returns to the SOURCE instead of spreading uniformly, so ranks answer
    * "important relative to whom?" (the similar-item / local-community
    * primitive behind pinterest-style related-content and seed-expansion
    * labeling — Gleich 2015). The rounds of [[pagerank]], but the initial
    * vector is the indicator e(source) and the teleport term
    * Teleport·e(source): nodes unreachable from the source converge to 0
    * instead of the uniform floor. */
  private def graphPpr(s: SparkSession, d: String): DataFrame =
    perNation(s, d, "ppr")(rankRounds(_, Some(0L)))
      .orderBy(col("ppr").desc, col("n_name"))

  private val graphPprSql = {
    val iter = (i: Int) =>
      s"""r$i AS (
         |  SELECT n.node,
         |         round(CAST($Teleport AS DOUBLE)
         |             * (CASE WHEN n.node = 0 THEN 1.0 ELSE 0.0 END)
         |           + CAST($Damping AS DOUBLE) * coalesce(m.mass, CAST(0.0 AS DOUBLE)), 6) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT f.dst AS node, SUM(f.f * p.r) AS mass
         |    FROM frac f JOIN r${i - 1} p ON f.src = p.node
         |    GROUP BY f.dst) m ON m.node = n.node)""".stripMargin
    s"""WITH edges AS (
       |  SELECT CAST(c.c_nationkey AS BIGINT) AS src,
       |         CAST(s.s_nationkey AS BIGINT) AS dst, count(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |frac AS (
       |  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / ow.out_w AS f
       |  FROM edges e JOIN (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src) ow
       |    ON e.src = ow.src),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM frac UNION ALL SELECT dst FROM frac)),
       |r0 AS (SELECT node,
       |         CASE WHEN node = 0 THEN CAST(1.0 AS DOUBLE)
       |              ELSE CAST(0.0 AS DOUBLE) END AS r
       |       FROM nodes),
       |${(1 to Rounds).map(iter).mkString(",\n")}
       |SELECT n.n_name, r$Rounds.r AS ppr
       |FROM r$Rounds JOIN nation n ON r$Rounds.node = n.n_nationkey
       |ORDER BY ppr DESC, n_name""".stripMargin
  }

  /** `graph_wcc`: weakly-connected components by synchronous min-label
    * propagation over the undirected trade graph, with a convergence proof
    * in the result: after `Rounds + 1` rounds the last round must change
    * nothing, and that boolean ships in every row — so the hash only passes
    * when the fixed iteration count genuinely reached the fixpoint (an
    * unconverged run fails loudly instead of shipping wrong components).
    * Pure integer mins — no floats, no tie ambiguity. The rounds are
    * [[wccRounds]] in one task; the corpus-scale CC with O(log n)
    * large-star/small-star doubling is [[graft.ops.DedupOps]]
    * (dedup_clusters) — this is the bounded-diameter flavor whose every
    * round a DuckDB WITH-chain replays exactly (the doubling form's
    * data-dependent round count can't be scripted). */
  private def graphWcc(s: SparkSession, d: String): DataFrame =
    onEdgeList(tradeEdges(s, d))(wccRounds)
      .toDF("component", "n_nodes", "converged")
      .orderBy("component")

  /** `Rounds + 1` synchronous min-label rounds over the undirected graph of
    * `edges`, each node starting with its own id: (component, n_nodes,
    * converged) per final label, `converged` when the last round changed
    * no label. */
  private[graft] def wccRounds(edges: Seq[(Long, Long, Long)]): Seq[(Long, Long, Boolean)] = {
    val adj = undirected(edges)
    def step(lbl: Map[Long, Long]): Map[Long, Long] =
      lbl.map { case (v, c) => v -> adj(v).map(n => lbl(n._1)).foldLeft(c)(_ min _) }
    val prev = Iterator.iterate(adj.map { case (v, _) => v -> v })(step).drop(Rounds).next()
    val last = step(prev)
    val converged = last == prev
    last.groupMapReduce(_._2)(_ => 1L)(_ + _).toSeq.sorted
      .map { case (c, n) => (c, n, converged) }
  }

  private val graphWccSql = {
    val iter = (i: Int) =>
      s"""c$i AS (
         |  SELECT l.node,
         |         least(l.comp, coalesce(m.nbr, l.comp)) AS comp
         |  FROM c${i - 1} l LEFT JOIN (
         |    SELECT u.src AS node, min(p.comp) AS nbr
         |    FROM und u JOIN c${i - 1} p ON u.dst = p.node
         |    GROUP BY u.src) m ON m.node = l.node)""".stripMargin
    s"""WITH edges AS MATERIALIZED (
       |  SELECT CAST(c.c_nationkey AS BIGINT) AS src,
       |         CAST(s.s_nationkey AS BIGINT) AS dst
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)
       |  WHERE src <> dst),
       |c0 AS (SELECT DISTINCT src AS node, src AS comp FROM und),
       |${(1 to Rounds + 1).map(iter).mkString(",\n")},
       |chg AS (
       |  SELECT count(*) FILTER (WHERE a.comp <> b.comp) AS n_changed
       |  FROM c$Rounds a JOIN c${Rounds + 1} b ON a.node = b.node)
       |SELECT comp AS component, CAST(count(*) AS BIGINT) AS n_nodes,
       |       (SELECT n_changed FROM chg) = 0 AS converged
       |FROM c${Rounds + 1} GROUP BY comp ORDER BY component""".stripMargin
  }

  /** `graph_label_prop`: synchronous label propagation (Raghavan et al.
    * 2007) over the undirected trade graph — the linear-time community
    * detector beside [[graph_modularity]]'s partition scorer. Init label =
    * own id; per round every node adopts the label with the greatest
    * incident edge weight among its neighbors, ties to the SMALLEST label
    * (the determinism pin async LPA lacks — synchronous + total tie order
    * means any engine replays the rounds exactly; the math is pure integer
    * sums, no floats anywhere). `Rounds` fixed iterations, the pagerank
    * convention, run by [[labelPropRounds]] in one task. */
  private def labelProp(s: SparkSession, d: String): DataFrame =
    perNation(s, d, "community")(labelPropRounds).orderBy("n_name")

  /** `Rounds` synchronous label-propagation rounds over the undirected
    * weighted graph of `edges`: (node, label) by node. */
  private[graft] def labelPropRounds(edges: Seq[(Long, Long, Long)]): Seq[(Long, Long)] = {
    val adj = undirected(edges)
    var lbl = adj.map { case (v, _) => v -> v }
    for (_ <- 1 to Rounds) lbl = adj.map { case (v, ns) =>
      v -> ns.groupMapReduce(n => lbl(n._1))(_._2)(_ + _)
        .minBy { case (l, tw) => (-tw, l) }._1
    }
    lbl.toSeq.sorted
  }

  private val labelPropSql = {
    val iter = (i: Int) =>
      s"""l$i AS (
         |  SELECT src AS node, lbl FROM (
         |    SELECT u.src, l.lbl, SUM(u.w) AS tw,
         |           row_number() OVER (PARTITION BY u.src
         |             ORDER BY SUM(u.w) DESC, l.lbl) AS rn
         |    FROM und u JOIN l${i - 1} l ON u.dst = l.node
         |    GROUP BY u.src, l.lbl)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH edges AS MATERIALIZED (
       |  SELECT CAST(c.c_nationkey AS BIGINT) AS src,
       |         CAST(s.s_nationkey AS BIGINT) AS dst, count(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |und AS MATERIALIZED (
       |  SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
       |    SELECT src, dst, w FROM edges
       |    UNION ALL SELECT dst, src, w FROM edges)
       |  WHERE src <> dst GROUP BY 1, 2),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM und),
       |${(1 to Rounds).map(iter).mkString(",\n")}
       |SELECT n.n_name, CAST(l$Rounds.lbl AS BIGINT) AS community
       |FROM l$Rounds JOIN nation n ON l$Rounds.node = n.n_nationkey
       |ORDER BY n_name""".stripMargin
  }

  /** `graph_triangles`: triangles per node in the undirected trade graph —
    * the clustering/community primitive (triangle count ⇒ clustering
    * coefficient). Canonical id-ordered edges (u < v) make each triangle
    * appear exactly once as a < b < c in the two-join enumeration
    * E(a,b) ⋈ E(b,c) ⋈ E(a,c). Scale: this is the standard distributed
    * triangle join — two shuffles on edge endpoints over the AGGREGATED
    * graph (the fact-scale work already collapsed in [[tradeEdges]]); at
    * web scale the same plan runs with degree-ordered orientation (orient
    * each edge toward the higher-degree endpoint), which bounds the wedge
    * fan-out to O(E^1.5) — id-ordering here is that trick with ids standing
    * in for degree rank. */
  private def triangles(s: SparkSession, d: String): DataFrame = {
    val und = tradeEdges(s, d).filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val ab = und.select(col("u").as("a"), col("v").as("b"))
    val bc = und.select(col("u").as("b"), col("v").as("c"))
    val ac = und.select(col("u").as("a"), col("v").as("c"))
    val tri = ab.join(bc, "b").join(ac, Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      .join(nation(s, d), col("node") === col("n_nationkey"))
      .select(col("n_name"), col("n_triangles"))
      .orderBy("n_name")
  }

  /** Oracle-side edge CTEs aggregate to (cn, sn) behind an `AS MATERIALIZED`
    * fence and filter `cn <> sn` AFTER it. With the inequality in the join
    * WHERE, DuckDB 1.0.0 plans customer×supplier as a NESTED_LOOP theta join
    * (1.4e9 build rows at sf1, EC-misestimated 10⁴× low → OOM-killed the sf1
    * gate at 130 GB). Groups are (cn, sn)-atomic w.r.t. the predicate, so
    * post-aggregation filtering is exactly equivalent (FIXTURES.md C3). */
  private val trianglesSql =
    """WITH raw0 AS MATERIALIZED (
      |  SELECT c.c_nationkey AS cn, su.s_nationkey AS sn
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
      |  GROUP BY 1, 2),
      |raw AS (SELECT cn, sn FROM raw0 WHERE cn <> sn),
      |e AS (SELECT DISTINCT least(cn, sn) AS u, greatest(cn, sn) AS v FROM raw),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1 JOIN e e2 ON e1.v = e2.u
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |pern AS (SELECT node FROM (SELECT unnest([a, b, c]) AS node FROM tri))
      |SELECT n.n_name, count(*) AS n_triangles
      |FROM pern JOIN nation n ON pern.node = n.n_nationkey
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin

  /** `graph_clustering_coeff`: local clustering coefficient per node —
    * 2·tri(v) / (deg(v)·(deg(v)−1)), the "how clique-like is this node's
    * neighborhood" metric that [[triangles]]' raw counts feed (Watts &
    * Strogatz 1998). [[clusteringCoeffs]] runs in one task on the undirected
    * edge list: a node's triangles are the adjacent pairs among its
    * neighbors, and the coefficient is one fixed double division rounded
    * 6 dp. Nodes with deg < 2 report 0 (no possible wedge). */
  private def clusteringCoeff(s: SparkSession, d: String): DataFrame =
    perNation(s, d, "deg", "n_triangles", "coeff")(clusteringCoeffs).orderBy("n_name")

  /** (node, deg, n_triangles, coeff) by node over the undirected graph of
    * `edges`. */
  private[graft] def clusteringCoeffs(
      edges: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long, Double)] = {
    val adj = undirected(edges).map { case (v, ns) => v -> ns.map(_._1).toSet }
    adj.toSeq.sortBy(_._1).map { case (v, ns) =>
      val deg = ns.size.toLong
      val tri = ns.toSeq.combinations(2).count(p => adj(p(0))(p(1))).toLong
      val coeff = if (deg >= 2)
        round6(2.0d * tri.toDouble / (deg.toDouble * (deg.toDouble - 1.0d)))
      else 0.0d
      (v, deg, tri, coeff)
    }
  }

  private val clusteringCoeffSql =
    """WITH raw0 AS MATERIALIZED (
      |  SELECT c.c_nationkey AS cn, su.s_nationkey AS sn
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
      |  GROUP BY 1, 2),
      |raw AS (SELECT cn, sn FROM raw0 WHERE cn <> sn),
      |e AS (SELECT DISTINCT least(cn, sn) AS u, greatest(cn, sn) AS v FROM raw),
      |deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      |  GROUP BY 1),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1 JOIN e e2 ON e1.v = e2.u
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |pern AS (
      |  SELECT node, count(*) AS n_tri
      |  FROM (SELECT unnest([a, b, c]) AS node FROM tri)
      |  GROUP BY 1)
      |SELECT n.n_name, deg,
      |  COALESCE(n_tri, 0) AS n_triangles,
      |  CASE WHEN deg >= 2 THEN
      |    round(2.0 * CAST(COALESCE(n_tri, 0) AS DOUBLE)
      |      / (CAST(deg AS DOUBLE) * (CAST(deg AS DOUBLE) - 1.0)), 6)
      |  ELSE 0.0 END AS coeff
      |FROM deg LEFT JOIN pern USING (node)
      |JOIN nation n ON deg.node = n.n_nationkey
      |ORDER BY n.n_name""".stripMargin

  // ---- N31c graph_bfs: single-source shortest hops -------------------------

  /** `graph_bfs`: breadth-first shortest-hop distances from nation 0 over
    * the directed trade graph — the frontier-expansion family that
    * complements PageRank (fixed-round mass propagation) and the
    * large/small-star CC (doubling). [[bfsHops]] expands the frontier
    * round by round in one task; fact-scale joins run once inside
    * [[tradeEdges]]. Unreached-within-MaxHops nodes are absent (the
    * oracle's recursive walk has identical reach semantics). */
  private val BfsSource = 0L
  private val BfsMaxHops = 3

  private def bfs(s: SparkSession, d: String): DataFrame =
    perNation(s, d, "hops")(bfsHops(_, BfsSource, BfsMaxHops)).orderBy("n_name")

  /** Hop counts from `source` over adjacency lists, for every node reached
    * within `maxHops` synchronous frontier rounds. */
  private def hopsFrom(adj: Map[Long, Seq[Long]], source: Long,
      maxHops: Int): Map[Long, Int] = {
    var dist = Map(source -> 0)
    var frontier = Seq(source)
    for (h <- 1 to maxHops) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(dist.contains)
      dist ++= frontier.map(_ -> h)
    }
    dist
  }

  /** Single-source shortest hop counts over the directed graph of `edges`
    * (self edges dropped): (node, hops) by node for every node within
    * `maxHops`, the source at 0. */
  private[graft] def bfsHops(edges: Seq[(Long, Long, Long)], source: Long,
      maxHops: Int): Seq[(Long, Int)] = {
    val adj = edges.filter(e => e._1 != e._2).groupMap(_._1)(_._2)
    hopsFrom(adj, source, maxHops).toSeq.sorted
  }

  private val bfsSql =
    s"""WITH RECURSIVE raw0 AS MATERIALIZED (
       |  SELECT c.c_nationkey AS src, su.s_nationkey AS dst
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
       |  GROUP BY 1, 2),
       |raw AS (SELECT src, dst FROM raw0 WHERE src <> dst),
       |walk(node, hops) AS (
       |  SELECT $BfsSource, 0
       |  UNION ALL
       |  SELECT r.dst, w.hops + 1 FROM walk w JOIN raw r ON w.node = r.src
       |  WHERE w.hops < $BfsMaxHops),
       |best AS (SELECT node, min(hops) AS hops FROM walk GROUP BY node)
       |SELECT n.n_name, b.hops FROM best b
       |JOIN nation n ON b.node = n.n_nationkey
       |ORDER BY n.n_name""".stripMargin

  // ---- N31d graph_common_neighbors: link prediction ------------------------

  /** `graph_common_neighbors`: common-neighbor / Jaccard link prediction —
    * for every unordered node pair NOT directly connected in the undirected
    * trade graph, the number of shared neighbors and the neighbor-set
    * Jaccard (the classic "who should connect next" score). The wedge
    * enumeration adj(a,n) ⋈ adj(b,n) and the degree join all run on the
    * AGGREGATED graph (≤ N² rows — fact-scale joins collapsed once in
    * [[tradeEdges]]); at web scale the same plan bounds wedge fan-out by
    * orienting through the lower-degree endpoint (the triangle trick).
    * Counts are integers, Jaccard one division rounded to 6 dp. */
  private def commonNeighbors(s: SparkSession, d: String): DataFrame = {
    // Sparsify to STRONG ties (top-k heaviest pairs; see strongTieEdges):
    // the full trade graph is near-complete at every SF, which leaves no
    // pairs to predict.
    val und = strongTieEdges(s, d)
    val adj = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val wedges = adj.select(col("u").as("a"), col("v").as("n"))
      .join(adj.select(col("u").as("b"), col("v").as("n")), "n")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
    wedges
      .join(und, col("a") === col("u") && col("b") === col("v"), "left_anti")
      .join(deg.select(col("u").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("u").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("cn"),
        round(col("cn").cast("double") /
          (col("da") + col("db") - col("cn")), 6).as("jaccard"))
      .orderBy("a", "b")
  }

  private val commonNeighborsSql =
    s"""WITH raw0 AS MATERIALIZED (
      |  SELECT c.c_nationkey AS cn, su.s_nationkey AS sn, count(*) AS grp_n
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
      |  GROUP BY 1, 2),
      |raw AS (SELECT cn, sn FROM raw0 WHERE cn <> sn
      |        ORDER BY grp_n DESC, cn, sn LIMIT $StrongTies),
      |e AS (SELECT DISTINCT CAST(least(cn, sn) AS BIGINT) AS u,
      |                      CAST(greatest(cn, sn) AS BIGINT) AS v FROM raw),
      |adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY u),
      |wedge AS (
      |  SELECT a1.u AS a, a2.u AS b, count(*) AS cn
      |  FROM adj a1 JOIN adj a2 ON a1.v = a2.v AND a1.u < a2.u
      |  GROUP BY 1, 2)
      |SELECT w.a, w.b, w.cn,
      |       round(CAST(w.cn AS DOUBLE) / (da.deg + db.deg - w.cn), 6) AS jaccard
      |FROM wedge w
      |JOIN deg da ON da.u = w.a
      |JOIN deg db ON db.u = w.b
      |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = w.a AND e.v = w.b)
      |ORDER BY w.a, w.b""".stripMargin

  // ---- N31e graph_degree_histogram: degree distribution --------------------

  /** `graph_degree_histogram`: log2-bucketed degree distribution of the
    * undirected trade graph — the first diagnostic run on any graph (is it
    * power-law? where's the hub tail?). The bucket is `length(bin(deg))`
    * (= ⌊log2⌋+1 in pure integer/string ops — identical both engines and
    * immune to float log2 misbucketing at powers of two, the proven
    * length-histogram recipe). Runs on the STRONG-TIE graph (the
    * common-neighbors sparsifier, [[strongTieEdges]] — the full trade
    * graph is near-complete, a one-bucket histogram); degrees come off the
    * aggregated graph, the histogram is one tiny keyed agg. */
  private def degreeHistogram(s: SparkSession, d: String): DataFrame = {
    val und = strongTieEdges(s, d)
    und.select(col("u").as("node")).unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .groupBy(length(bin(col("deg"))).as("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min("deg").as("min_deg"), max("deg").as("max_deg"))
      .orderBy("bucket")
  }

  private val degreeHistogramSql =
    s"""WITH raw0 AS MATERIALIZED (
      |  SELECT c.c_nationkey AS cn, su.s_nationkey AS sn, count(*) AS grp_n
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
      |  GROUP BY 1, 2),
      |raw AS (SELECT cn, sn FROM raw0 WHERE cn <> sn
      |        ORDER BY grp_n DESC, cn, sn LIMIT $StrongTies),
      |e AS (SELECT DISTINCT CAST(least(cn, sn) AS BIGINT) AS u,
      |                      CAST(greatest(cn, sn) AS BIGINT) AS v FROM raw),
      |deg AS (
      |  SELECT node, count(*) AS deg FROM
      |    (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      |  GROUP BY node)
      |SELECT CAST(length(bin(deg)) AS INTEGER) AS bucket, count(*) AS n_nodes,
      |       min(deg) AS min_deg, max(deg) AS max_deg
      |FROM deg GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---- N31f graph_assortativity: degree-degree correlation -----------------

  /** `graph_assortativity`: Newman's degree assortativity — the Pearson
    * correlation of endpoint degrees over every edge (both orientations,
    * the standard undirected convention). Positive = hubs link hubs
    * (social), negative = hub-and-spoke (technological). Degrees are
    * integer; all five Pearson moments are exact LONG sums over the
    * AGGREGATED graph's edges, so the only float math is the final
    * covariance/variance division (rounded 6 dp) — the ts_autocorr recipe
    * applied edge-wise. Runs on the strong-tie graph (the near-complete
    * full graph has ~constant degrees — zero variance, undefined r).
    * Plan: degree agg + two broadcast joins onto the edge list + one
    * scalar agg; never fact-scale after [[tradeEdges]]. */
  private def assortativity(s: SparkSession, d: String): DataFrame = {
    val und = strongTieEdges(s, d)
    val adj = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    val deg = adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    adj
      .join(broadcast(deg.select(col("node").as("u"), col("deg").as("dx"))), "u")
      .join(broadcast(deg.select(col("node").as("v"), col("deg").as("dy"))), "v")
      .agg(count(lit(1)).as("n_ends"),
        sum("dx").as("sx"), sum("dy").as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("n_ends"),
        round((col("n_ends") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n_ends") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("n_ends") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
          .as("assortativity"))
  }

  private val assortativitySql =
    s"""WITH raw0 AS MATERIALIZED (
      |  SELECT c.c_nationkey AS cn, su.s_nationkey AS sn, count(*) AS grp_n
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
      |  GROUP BY 1, 2),
      |raw AS (SELECT cn, sn FROM raw0 WHERE cn <> sn
      |        ORDER BY grp_n DESC, cn, sn LIMIT $StrongTies),
      |e AS (SELECT DISTINCT CAST(least(cn, sn) AS BIGINT) AS u,
      |                      CAST(greatest(cn, sn) AS BIGINT) AS v FROM raw),
      |adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |deg AS (SELECT u AS node, count(*) AS deg FROM adj GROUP BY 1),
      |m AS (
      |  SELECT count(*) AS n_ends,
      |         sum(a.deg) AS sx, sum(b.deg) AS sy,
      |         sum(a.deg * b.deg) AS sxy,
      |         sum(a.deg * a.deg) AS sxx, sum(b.deg * b.deg) AS syy
      |  FROM adj JOIN deg a ON adj.u = a.node JOIN deg b ON adj.v = b.node)
      |SELECT CAST(n_ends AS BIGINT) AS n_ends,
      |       round(CAST(n_ends * sxy - sx * sy AS DOUBLE) /
      |             (sqrt(CAST(n_ends * sxx - sx * sx AS DOUBLE)) *
      |              sqrt(CAST(n_ends * syy - sy * sy AS DOUBLE))), 6)
      |         AS assortativity
      |FROM m""".stripMargin

  // ---- N31g graph_kcore: k-core decomposition ------------------------------

  private val KCore = 2
  private[graft] val KCoreRounds = 6

  /** Borůvka merge dispatch: pick-pair sets at or under this size replay the
    * synchronous min-label rounds driver-side (a bounded limit(cap+1)
    * collect); larger sets run the identical rounds in-plan. Sized so the
    * driver path tops out around a few hundred KB of pair data. */
  private val DriverMergeCap = 4096

  /** Convergence cap for the Borůvka min-label merge: a pick forest whose
    * label fixpoint needs more rounds than this throws loudly (the kcore
    * discipline) instead of looping — at that diameter the right merge is
    * the large/small-star CC operator (dedup_clusters). */
  private val MaxLabelRounds = 48

  /** `graph_kcore`: the 2-core of the strong-tie graph by iterative
    * PEELING — repeatedly drop nodes of degree < k until stable; what
    * survives is the cohesive backbone community detection starts from.
    * The fourth iteration family next to PageRank (mass), star-CC
    * (doubling), and BFS (frontier), run by [[kcorePeel]] in one task.
    * Runs a FIXED round count and RAISES if the fixpoint isn't reached (the
    * connectedComponents contract) so the scripted-CTE oracle replays the
    * identical schedule. Output = surviving nodes with their core degree. */
  private def kcore(s: SparkSession, d: String): DataFrame =
    onEdgeList(strongTieEdges(s, d)
        .select(col("u").as("src"), col("v").as("dst"), lit(1L).as("w")))(kcorePeel)
      .toDF("node", "core_deg")
      .orderBy("node")

  /** At most [[KCoreRounds]] rounds peeling the nodes of degree < [[KCore]]
    * off the undirected graph of `edges`: (node, core_deg) by node for the
    * surviving core. Throws when the last round still removed a node. */
  private[graft] def kcorePeel(edges: Seq[(Long, Long, Long)]): Seq[(Long, Long)] = {
    val und = edges.collect { case (a, b, _) if a != b => (a min b, a max b) }.distinct
    def degrees(live: Set[Long]): Map[Long, Long] =
      und.filter(e => live(e._1) && live(e._2)).flatMap(e => Seq(e._1, e._2))
        .groupMapReduce(identity)(_ => 1L)(_ + _)
    var live = und.flatMap(e => Seq(e._1, e._2)).toSet
    var converged = false
    for (_ <- 1 to KCoreRounds if !converged) {
      val next = degrees(live).collect { case (v, deg) if deg >= KCore => v }.toSet
      converged = next.size == live.size
      live = next
    }
    if (!converged)
      throw new IllegalStateException(s"k-core did not converge in $KCoreRounds rounds")
    degrees(live).toSeq.sorted
  }

  private val kcoreSql = {
    val round = (i: Int) =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT e.u AS node FROM e
         |    JOIN l${i - 1} a ON e.u = a.node JOIN l${i - 1} b ON e.v = b.node
         |    UNION ALL
         |    SELECT e.v FROM e
         |    JOIN l${i - 1} a ON e.u = a.node JOIN l${i - 1} b ON e.v = b.node)
         |  GROUP BY node),
         |l$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $KCore)""".stripMargin
    s"""WITH raw0 AS MATERIALIZED (
       |  SELECT c.c_nationkey AS cn, su.s_nationkey AS sn, count(*) AS grp_n
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
       |  GROUP BY 1, 2),
       |raw AS MATERIALIZED (SELECT cn, sn FROM raw0 WHERE cn <> sn
       |  ORDER BY grp_n DESC, cn, sn LIMIT $StrongTies),
       |e AS MATERIALIZED (SELECT DISTINCT CAST(least(cn, sn) AS BIGINT) AS u,
       |                      CAST(greatest(cn, sn) AS BIGINT) AS v FROM raw),
       |l0 AS MATERIALIZED (SELECT DISTINCT node FROM
       |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e)),
       |${(1 to KCoreRounds).map(round).mkString(",\n")}
       |SELECT node, count(*) AS core_deg FROM (
       |  SELECT e.u AS node FROM e
       |  JOIN l$KCoreRounds a ON e.u = a.node JOIN l$KCoreRounds b ON e.v = b.node
       |  UNION ALL
       |  SELECT e.v FROM e
       |  JOIN l$KCoreRounds a ON e.u = a.node JOIN l$KCoreRounds b ON e.v = b.node)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  // ---- N31o graph_mst_boruvka: minimum spanning forest rounds --------------

  /** `graph_mst_boruvka`: two Borůvka rounds toward the minimum spanning
    * forest of the weighted trade graph — THE distributed MST algorithm
    * (each component picks its lightest outgoing edge, components merge;
    * O(log n) rounds to completion) and the backbone of single-linkage
    * clustering over a similarity graph. Determinism pins: the per-
    * component pick orders by (w, other-component, u, v) — a total order,
    * so ties cannot diverge; merging runs synchronous min-label rounds on
    * the component graph TO CONVERGENCE with a loud 48-round cap (the
    * kcore discipline). The oracle replays 6 FIXED rounds — identical
    * whenever the fixpoint lands within 6 (always on this graph;
    * post-convergence rounds are no-ops), while a 7..48-diameter pick
    * forest surfaces as a LOUD hash mismatch and a deeper one throws —
    * never a silent under-merge; the large/small-star CC operator is the
    * guaranteed-O(log n) merge at adversarial diameter (dedup_clusters).
    * Per round: one label join onto the aggregated edge list, a
    * component-keyed argmin window (group-bounded), and label iterations
    * on the COMPONENT-sized graph — never fact-scale, and NOTHING
    * component-sized ever collects to the driver (round 1 of an MST over
    * a 100 TB similarity graph has one component per VERTEX — a
    * driver-side merge would be an O(|V|) collect; GraphProps runs a
    * random differential vs a driver-side replay and BoruvkaMergeSpec
    * drives this path at 10⁵ components). Output: the picked edges per
    * round plus the component count after each merge, all exact
    * integers. */
  private def mstBoruvka(s: SparkSession, d: String): DataFrame = {
    val e0 = tradeEdges(s, d)
    val und = e0.select(col("src"), col("dst"), col("w"))
      .unionAll(e0.select(col("dst"), col("src"), col("w")))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(sum("w").as("w")).localCheckpoint(false)
    boruvkaRounds(und, 2)
  }

  /** The Borůvka engine over a pre-aggregated symmetric edge list
    * (src, dst, w): `rounds` pick+merge iterations, each merge a
    * converge-or-throw synchronous min-label fixpoint on the component
    * graph.
    * Exposed for GraphProps/BoruvkaMergeSpec (synthetic graphs where
    * round-1 component count is far beyond driver-collect comfort).
    * `mergeCap` overrides the dispatch threshold so tests can run BOTH
    * merge paths on the SAME graph and assert equality — the two paths
    * compute the same function by construction, and BoruvkaMergeSpec
    * pins it. */
  private[graft] def boruvkaRounds(und: DataFrame, rounds: Int,
      mergeCap: Int = DriverMergeCap): DataFrame = {
    var comp = und.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("c")).localCheckpoint(false)
    val byPick = org.apache.spark.sql.expressions.Window
      .partitionBy("ca").orderBy(col("w"), col("cb"), col("src"), col("dst"))
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to rounds) {
      val tagged = und
        .join(comp.select(col("node").as("src"), col("c").as("ca")), "src")
        .join(comp.select(col("node").as("dst"), col("c").as("cb")), "dst")
        .filter(col("ca") =!= col("cb"))
      val picks = tagged.withColumn("rn", row_number().over(byPick))
        .filter(col("rn") === 1)
        .select(col("ca"), col("cb"), col("src"), col("dst"), col("w"))
        .localCheckpoint(false)
      // merge: synchronous min-label rounds on the pick-pair graph, run TO
      // CONVERGENCE with a loud cap (the kcore discipline). The oracle
      // replays 6 FIXED rounds — identical once the fixpoint lands within
      // 6 (post-convergence rounds are no-ops), while a 7..48-diameter
      // pick forest diverges from the oracle as a LOUD hash mismatch and
      // a deeper one throws here — never a silent under-merge. Components
      // NOT in any pick pair keep their label (the in-plan left join's
      // coalesce / the driver path's identity fallback), so the fixpoint
      // restricted to pick-pair components is the full fixpoint.
      // GUARDED dispatch (r09 verdict #2): probe the pick-pair count with a
      // bounded limit(cap+1) collect — if it fits, replay the SAME rounds
      // driver-side (microseconds, and skips the tiny shuffle stages whose
      // fixed overhead dominates small graphs); otherwise run them
      // IN-PLAN, the shape of the oracle's pp{r}/l{r}_k CTEs —
      // component-graph-sized joins, nothing O(components) ever reaches
      // the driver.
      val ppLocal = picks.select(col("ca"), col("cb")).distinct()
        .limit(mergeCap + 1).collect()
        .map(p => (p.getLong(0), p.getLong(1)))
      comp = if (ppLocal.length <= mergeCap) {
        val sym = (ppLocal ++ ppLocal.map(p => (p._2, p._1))).distinct
        var lblM: Map[Long, Long] =
          sym.map(_._1).distinct.map(c => c -> c).toMap
        var changed = sym.nonEmpty
        var rnds = 0
        while (changed && rnds < MaxLabelRounds) {
          val m = sym.groupBy(_._1)
            .map { case (ca, ps) => ca -> ps.map(p => lblM(p._2)).min }
          val next = lblM.map { case (cid, l) =>
            cid -> math.min(l, m.getOrElse(cid, l)) }
          changed = next != lblM
          lblM = next
          rnds += 1
        }
        if (changed) throw new IllegalStateException(
          s"boruvka merge did not converge in $MaxLabelRounds label rounds " +
            "(pick-forest diameter pathological) — merge with the " +
            "large/small-star CC operator (dedup_clusters) instead")
        val sSess = comp.sparkSession
        import sSess.implicits._
        val moved = lblM.filter { case (cid, l) => l != cid }.toSeq
        comp.join(broadcast(moved.toDF("cid", "lbl")),
            col("c") === col("cid"), "left")
          .select(col("node"), coalesce(col("lbl"), col("c")).as("c"))
          .localCheckpoint(false)
      } else {
        val pp = picks.select(col("ca"), col("cb"))
          .unionAll(picks.select(col("cb").as("ca"), col("ca").as("cb")))
          .distinct().localCheckpoint(false)
        var lbl = comp.select(col("c")).distinct()
          .select(col("c").as("cid"), col("c").as("lbl"))
        var changed = true
        var rnds = 0
        while (changed && rnds < MaxLabelRounds) {
          val m = pp.join(lbl.select(col("cid").as("cb"), col("lbl")), "cb")
            .groupBy("ca").agg(min("lbl").as("nl"))
          // checkpoint the joined frame once so the convergence count and
          // the next label frame share one computation
          val joined = lbl
            .join(m.select(col("ca").as("cid"), col("nl")), Seq("cid"), "left")
            .select(col("cid"), col("lbl"),
              least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("nl2"))
            .localCheckpoint(false)
          changed = joined.filter(col("nl2") < col("lbl")).limit(1).count() > 0
          lbl = joined.select(col("cid"), col("nl2").as("lbl"))
          rnds += 1
        }
        if (changed) throw new IllegalStateException(
          s"boruvka merge did not converge in $MaxLabelRounds label rounds " +
            "(pick-forest diameter pathological) — merge with the " +
            "large/small-star CC operator (dedup_clusters) instead")
        comp.join(lbl.select(col("cid").as("c"), col("lbl")), "c")
          .select(col("node"), col("lbl").as("c")).localCheckpoint(false)
      }
      // the after-merge component count is a one-row distinct aggregate on
      // the label column — broadcast-joined onto the picks, never collected
      val nc = comp.select(countDistinct(col("c")).as("n_components_after"))
      out += picks.select(lit(r).as("round"),
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"), col("w")).distinct()
        .crossJoin(broadcast(nc))
    }
    out.reduce(_ unionAll _).orderBy("round", "u", "v")
  }

  private val mstBoruvkaSql = {
    def mergeRounds(r: Int): String = (1 to 6).map { k =>
      s"""l${r}_$k AS MATERIALIZED (
         |  SELECT l.cid,
         |    least(l.lbl, coalesce(m.nl, l.lbl)) AS lbl
         |  FROM l${r}_${k - 1} l LEFT JOIN (
         |    SELECT p.ca, min(x.lbl) AS nl
         |    FROM pp$r p JOIN l${r}_${k - 1} x ON p.cb = x.cid
         |    GROUP BY 1) m ON l.cid = m.ca)""".stripMargin
    }.mkString(",\n")
    def round(r: Int, compSrc: String): String =
      s"""tag$r AS MATERIALIZED (
         |  SELECT u.src, u.dst, u.w, a.c AS ca, b.c AS cb
         |  FROM und u
         |  JOIN $compSrc a ON u.src = a.node
         |  JOIN $compSrc b ON u.dst = b.node
         |  WHERE a.c <> b.c),
         |pk$r AS MATERIALIZED (
         |  SELECT ca, cb, src, dst, w FROM (
         |    SELECT *, row_number() OVER (PARTITION BY ca
         |      ORDER BY w, cb, src, dst) AS rn FROM tag$r)
         |  WHERE rn = 1),
         |pp$r AS MATERIALIZED (SELECT DISTINCT ca, cb FROM (
         |  SELECT ca, cb FROM pk$r UNION ALL SELECT cb, ca FROM pk$r)),
         |l${r}_0 AS MATERIALIZED (SELECT DISTINCT c AS cid, c AS lbl FROM $compSrc),
         |${mergeRounds(r)},
         |comp$r AS MATERIALIZED (
         |  SELECT p.node, l.lbl AS c
         |  FROM $compSrc p JOIN l${r}_6 l ON p.c = l.cid),
         |nc$r AS (SELECT CAST(count(DISTINCT c) AS BIGINT) AS n FROM comp$r)""".stripMargin
    s"""WITH edges AS (
       |  SELECT CAST(c.c_nationkey AS BIGINT) AS src,
       |         CAST(s.s_nationkey AS BIGINT) AS dst, count(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |und AS MATERIALIZED (
       |  SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
       |    SELECT src, dst, w FROM edges
       |    UNION ALL SELECT dst, src, w FROM edges)
       |  WHERE src <> dst GROUP BY 1, 2),
       |comp0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS c FROM und),
       |${round(1, "comp0")},
       |${round(2, "comp1")}
       |SELECT * FROM (
       |  SELECT CAST(1 AS INTEGER) AS round, least(src, dst) AS u,
       |         greatest(src, dst) AS v, w,
       |         (SELECT n FROM nc1) AS n_components_after
       |  FROM pk1
       |  UNION
       |  SELECT CAST(2 AS INTEGER), least(src, dst), greatest(src, dst), w,
       |         (SELECT n FROM nc2)
       |  FROM pk2)
       |ORDER BY round, u, v""".stripMargin
  }

  // ---- N31n graph_closeness: multi-source BFS centrality -------------------

  /** `graph_closeness`: closeness + harmonic centrality from
    * SIMULTANEOUS multi-source BFS — every node is a source, frontiers
    * expand together for [[ClosenessRounds]] rounds (the trade graph's
    * diameter is under that; exact all-pairs state is O(n²), which is why
    * web-scale closeness uses HyperANF's HLL neighborhood sketches instead
    * — Boldi et al. 2011). Closeness = (reached−1)/Σd (Wasserman–Faust
    * truncated at the round horizon — unreached pairs excluded, stated
    * in-row via n_reached); harmonic = Σ 1/d handles disconnection
    * natively. The only floats are one IEEE division (closeness) and the
    * per-term rounded 1/d grid {1, .5, .333333, .25} summed in DECIMAL.
    * [[closenessRounds]] runs in one task. */
  private def closeness(s: SparkSession, d: String): DataFrame =
    perNation(s, d, "n_reached", "dist_sum", "closeness", "harmonic")(closenessRounds)
      .orderBy("n_name")

  private val ClosenessRounds = 4

  /** (node, n_reached, dist_sum, closeness, harmonic) by node: a BFS of
    * [[ClosenessRounds]] rounds from every node of the undirected graph of
    * `edges`, the source itself reached at distance 0. */
  private[graft] def closenessRounds(
      edges: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long, Double, Double)] = {
    val adj = undirected(edges).map { case (v, ns) => v -> ns.map(_._1) }
    adj.keys.toSeq.sorted.map { src =>
      val ds = hopsFrom(adj, src, ClosenessRounds).values.map(_.toLong)
      val (reached, distSum) = (ds.size.toLong, ds.sum)
      val harm = ds.filter(_ > 0).map(d => BigDecimal(round6(1.0 / d))).sum
      (src, reached, distSum, round6((reached - 1).toDouble / distSum.toDouble),
        harm.toDouble)
    }
  }

  private val closenessSql = {
    val iter = (r: Int) =>
      s"""f$r AS (
         |  SELECT DISTINCT p.s, u.dst AS v
         |  FROM d${r - 1} p JOIN und u ON p.v = u.src WHERE p.d = ${r - 1}),
         |d$r AS (
         |  SELECT * FROM d${r - 1}
         |  UNION ALL
         |  SELECT f.s, f.v, CAST($r AS BIGINT) AS d FROM f$r f
         |  WHERE NOT EXISTS (SELECT 1 FROM d${r - 1} x
         |                    WHERE x.s = f.s AND x.v = f.v))""".stripMargin
    s"""WITH edges0 AS MATERIALIZED (
       |  SELECT CAST(c.c_nationkey AS BIGINT) AS src,
       |         CAST(s.s_nationkey AS BIGINT) AS dst
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |edges AS (SELECT src, dst FROM edges0 WHERE src <> dst),
       |und AS (SELECT src, dst FROM edges
       |        UNION SELECT dst, src FROM edges),
       |d0 AS (SELECT DISTINCT src AS s, src AS v, CAST(0 AS BIGINT) AS d
       |       FROM und),
       |${(1 to 4).map(iter).mkString(",\n")}
       |SELECT n.n_name, g.n_reached, g.dist_sum,
       |  round(CAST(g.n_reached - 1 AS DOUBLE)
       |        / CAST(g.dist_sum AS DOUBLE), 6) AS closeness,
       |  CAST(g.harm AS DOUBLE) AS harmonic
       |FROM (
       |  SELECT s, count(*) AS n_reached, CAST(SUM(d) AS BIGINT) AS dist_sum,
       |         SUM(CAST(CASE WHEN d > 0
       |                       THEN round(CAST(1.0 AS DOUBLE) / d, 6)
       |                       ELSE 0.0 END AS DECIMAL(18,6))) AS harm
       |  FROM d4 GROUP BY s) g
       |JOIN nation n ON g.s = n.n_nationkey
       |ORDER BY n_name""".stripMargin
  }

  // ---- N31k graph_louvain_pass: modularity-ascent local moves --------------

  /** `graph_louvain_pass`: two synchronous rounds of Louvain's local-move
    * step (Blondel et al. 2008) over the weighted undirected trade graph —
    * the SEARCH half of community detection next to [[modularity]]'s
    * scorer and [[labelProp]]'s frequency heuristic (label prop follows
    * edge weight alone; this follows modularity GAIN, which also penalizes
    * joining already-heavy communities). Per round every node evaluates
    * each neighboring community c (plus staying put) by the gain of
    * inserting i into c∖{i}: ΔQ ∝ 2m·k_{i,c} − k_i·Σtot(c∖i) — the
    * comparison runs on that cross-multiplied EXACT-LONG form (no float
    * division anywhere), ties to the smallest community id, updates applied
    * synchronously (the labelProp determinism pin). [[louvainRounds]] runs
    * both rounds in one task. */
  private def louvainPass(s: SparkSession, d: String): DataFrame =
    perNation(s, d, "community")(louvainRounds).orderBy("n_name")

  private val LouvainRounds = 2

  /** [[LouvainRounds]] synchronous local-move rounds over the undirected
    * weighted graph of `edges`, each node starting in its own community:
    * (node, community) by node. */
  private[graft] def louvainRounds(edges: Seq[(Long, Long, Long)]): Seq[(Long, Long)] = {
    val adj = undirected(edges)
    val k = adj.map { case (v, ns) => v -> ns.map(_._2).sum }
    val m2 = k.values.sum
    var comm = adj.map { case (v, _) => v -> v }
    for (_ <- 1 to LouvainRounds) {
      val sig = comm.groupMapReduce(_._2)(e => k(e._1))(_ + _)
      comm = adj.map { case (v, ns) =>
        val own = comm(v)
        val kic = ns.groupMapReduce(n => comm(n._1))(_._2)(_ + _)
        val cands = kic.updated(own, kic.getOrElse(own, 0L))
        v -> cands.minBy { case (c, kc) =>
          (-(m2 * kc - k(v) * (sig(c) - (if (c == own) k(v) else 0L))), c) }._1
      }
    }
    comm.toSeq.sorted
  }

  private val louvainPassSql = {
    val iter = (i: Int) =>
      s"""sig$i AS (
         |  SELECT c AS cd, CAST(SUM(k) AS BIGINT) AS sig
         |  FROM c${i - 1} JOIN kd USING (node) GROUP BY 1),
         |kic$i AS (
         |  SELECT u.src, cm.c AS cd, CAST(SUM(u.w) AS BIGINT) AS kic
         |  FROM und u JOIN c${i - 1} cm ON u.dst = cm.node GROUP BY 1, 2),
         |cand$i AS (
         |  SELECT src, cd, CAST(SUM(kic) AS BIGINT) AS kic FROM (
         |    SELECT src, cd, kic FROM kic$i
         |    UNION ALL SELECT node AS src, c AS cd, 0 AS kic FROM c${i - 1})
         |  GROUP BY 1, 2),
         |sc$i AS (
         |  SELECT cand.src, cand.cd,
         |    m2.m2 * cand.kic - kd.k * (sig.sig -
         |      CASE WHEN own.c = cand.cd THEN kd.k ELSE 0 END) AS score
         |  FROM cand$i cand
         |  JOIN kd ON cand.src = kd.node
         |  JOIN sig$i sig ON cand.cd = sig.cd
         |  JOIN c${i - 1} own ON cand.src = own.node, m2),
         |c$i AS (
         |  SELECT src AS node, cd AS c FROM (
         |    SELECT src, cd, row_number() OVER (PARTITION BY src
         |      ORDER BY score DESC, cd) AS rn FROM sc$i)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH edges AS MATERIALIZED (
       |  SELECT CAST(c.c_nationkey AS BIGINT) AS src,
       |         CAST(s.s_nationkey AS BIGINT) AS dst, count(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |und AS MATERIALIZED (
       |  SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
       |    SELECT src, dst, w FROM edges
       |    UNION ALL SELECT dst, src, w FROM edges)
       |  WHERE src <> dst GROUP BY 1, 2),
       |kd AS (SELECT src AS node, CAST(SUM(w) AS BIGINT) AS k
       |       FROM und GROUP BY 1),
       |m2 AS (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM und),
       |c0 AS (SELECT node, node AS c FROM kd),
       |${(1 to 2).map(iter).mkString(",\n")}
       |SELECT n.n_name, CAST(c2.c AS BIGINT) AS community
       |FROM c2 JOIN nation n ON c2.node = n.n_nationkey
       |ORDER BY n_name""".stripMargin
  }

  // ---- N31h graph_modularity: partition quality ----------------------------

  /** `graph_modularity`: Newman modularity of the REGION partition over the
    * full trade graph — "are trade communities geographic?" in one number
    * per region plus the total. Q = Σ_c (4m·e_c − d_c²)/(4m²) with e_c =
    * intra-community edges, d_c = community degree sum, m = |E| — every
    * numerator term is an exact LONG (the cross-multiply discipline), one
    * rounded division per community. Plan: the canonical edges tag their
    * endpoints' regions via two broadcast joins of the nation→region dim,
    * and [[modularityOf]] scores the tagged list in one task. The
    * evaluation half of community detection — Louvain's scoring step
    * without the search. */
  private def modularity(s: SparkSession, d: String): DataFrame = {
    val reg = nation(s, d).select(col("n_nationkey").cast("long").as("node"),
      col("n_regionkey").cast("long").as("region"))
    val tagged = tradeEdges(s, d).filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .join(broadcast(reg.select(col("node").as("u"), col("region").as("src"))), "u")
      .join(broadcast(reg.select(col("node").as("v"), col("region").as("dst"))), "v")
      .select(col("src"), col("dst"), lit(1L).as("w"))
    onEdgeList(tagged)(modularityOf)
      .toDF("region", "e_c", "d_c", "q_contrib")
      .orderBy("region")
  }

  /** Modularity contributions from one row per undirected edge with both
    * endpoints replaced by their community (weights are ignored):
    * (community, e_c, d_c, q_contrib) by community. */
  private[graft] def modularityOf(
      edges: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long, Double)] = {
    val m = edges.size.toLong
    val eC = edges.filter(e => e._1 == e._2).groupMapReduce(_._1)(_ => 1L)(_ + _)
    val dC = edges.flatMap(e => Seq(e._1, e._2)).groupMapReduce(identity)(_ => 1L)(_ + _)
    dC.toSeq.sorted.map { case (c, dc) =>
      val ec = eC.getOrElse(c, 0L)
      (c, ec, dc, round6((4L * m * ec - dc * dc).toDouble / (4.0d * m * m)))
    }
  }

  private val modularitySql =
    """WITH raw0 AS MATERIALIZED (
      |  SELECT c.c_nationkey AS cn, su.s_nationkey AS sn
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
      |  GROUP BY 1, 2),
      |raw AS (SELECT cn, sn FROM raw0 WHERE cn <> sn),
      |e AS (SELECT DISTINCT CAST(least(cn, sn) AS BIGINT) AS u,
      |                      CAST(greatest(cn, sn) AS BIGINT) AS v FROM raw),
      |t AS (
      |  SELECT e.u, e.v,
      |         CAST(a.n_regionkey AS BIGINT) AS ru,
      |         CAST(b.n_regionkey AS BIGINT) AS rv
      |  FROM e JOIN nation a ON e.u = a.n_nationkey
      |         JOIN nation b ON e.v = b.n_nationkey),
      |m AS (SELECT count(*) AS m FROM t),
      |ec AS (SELECT ru AS region, count(*) AS e_c FROM t WHERE ru = rv GROUP BY 1),
      |dc AS (SELECT region, count(*) AS d_c FROM
      |        (SELECT ru AS region FROM t UNION ALL SELECT rv FROM t)
      |       GROUP BY 1)
      |SELECT dc.region, coalesce(ec.e_c, 0) AS e_c, dc.d_c,
      |       round(CAST(4 * m.m * coalesce(ec.e_c, 0) - dc.d_c * dc.d_c AS DOUBLE)
      |             / (4.0 * m.m * m.m), 6) AS q_contrib
      |FROM dc LEFT JOIN ec USING (region), m
      |ORDER BY region""".stripMargin

  def all: Seq[(String, Q)] = Seq(
    "graph_common_neighbors" -> Q(commonNeighbors, Some(commonNeighborsSql)),
    "graph_degree_histogram" -> Q(degreeHistogram, Some(degreeHistogramSql)),
    "graph_assortativity" -> Q(assortativity, Some(assortativitySql)),
    "graph_kcore" -> Q(kcore, Some(kcoreSql)),
    "graph_label_prop" -> Q(labelProp, Some(labelPropSql)),
    "graph_louvain_pass" -> Q(louvainPass, Some(louvainPassSql)),
    "graph_closeness" -> Q(closeness, Some(closenessSql)),
    "graph_mst_boruvka" -> Q(mstBoruvka, Some(mstBoruvkaSql)),
    "graph_wcc" -> Q(graphWcc, Some(graphWccSql)),
    "graph_modularity" -> Q(modularity, Some(modularitySql)),
    "graph_pagerank" -> Q(pagerank, Some(pagerankSql)),
    "graph_triangles" -> Q(triangles, Some(trianglesSql)),
    "graph_clustering_coeff" ->
      Q(clusteringCoeff, Some(clusteringCoeffSql)),
    "graph_ppr" -> Q(graphPpr, Some(graphPprSql)),
    "graph_bfs" -> Q(bfs, Some(bfsSql)))
}
