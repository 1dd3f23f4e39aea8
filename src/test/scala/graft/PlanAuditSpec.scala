package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan audits (SURVEY.md §4.3): the properties that make these
  * queries survive a 100 TB scale-up are asserted here, not just eyeballed —
  * filter/column pushdown reaching the Parquet scan, dimension joins
  * broadcasting, top-k planning as TakeOrderedAndProject, partial (map-side)
  * aggregation, and no redundant shuffles.
  */
class PlanAuditSpec extends SparkSpec {

  /** Final (post-AQE) physical plan + formatted explain (which prints
    * untruncated PushedFilters/ReadSchema). */
  private def plan(df: DataFrame): String = {
    df.collect() // drive AQE to its final plan
    df.queryExecution.executedPlan.toString + "\n" +
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  /** Just the post-AQE final tree (for exchange/codegen counting — the full
    * dump repeats the initial plan and formatted details). */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def q(name: String): DataFrame =
    Queries.byName(name).build(spark, sfDir)

  test("scan_parquet: predicate and projection reach the Parquet reader") {
    val p = plan(q("scan_parquet"))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45"),
      s"missing pushed filter in:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>"),
      s"scan must prune to the 4 projected columns:\n$p")
  }

  test("filter_pushdown: all three predicates pushed, 3-column read schema") {
    val p = plan(q("filter_pushdown"))
    assert(p.contains("EqualTo(o_orderstatus,O)") && p.contains("GreaterThan(o_totalprice,150000.0)"),
      s"conjunctive predicates must push:\n$p")
    assert(!p.contains("o_orderpriority"), "untouched columns must not be read")
  }

  test("3-way join: fact-fact is shuffle join, dim side broadcasts") {
    val p = plan(q("join_sort_merge_3way"))
    assert(p.contains("BroadcastHashJoin"), s"customer dim must broadcast:\n$p")
  }

  test("skill matching: taxonomy joins broadcast, no raw-token shuffle before the join") {
    val p = plan(q("skill_category_counts"))
    assert(p.contains("BroadcastHashJoin"), s"taxonomy lookup must broadcast:\n$p")
  }

  test("topk_limit plans as TakeOrderedAndProject (no global sort materialization)") {
    val p = plan(q("topk_limit"))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("agg_salary_stats: partial map-side aggregation before the single shuffle") {
    val p = finalPlan(q("agg_salary_stats"))
    assert(p.contains("partial_"), s"two-phase agg expected:\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).length
    // one shuffle for the 6-group agg + one for the final orderBy
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
  }

  test("join_inner_equi: groupBy reuses the join's partitioning (no extra exchange)") {
    val p = finalPlan(q("join_inner_equi"))
    // SMJ needs one exchange per side; the groupBy on the same key must NOT
    // add a third aggregation exchange (orderBy adds its range exchange).
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"groupBy must reuse join partitioning:\n$p")
  }

  test("tpch_q1: one partial/final agg pair over a single pushed-filter fact scan") {
    val df = q("tpch_q1")
    val p = plan(df)
    assert(p.contains("partial_"), s"two-phase (map-side) agg expected:\n$p")
    assert(p.contains("LessThanOrEqual(l_shipdate"),
      s"shipdate hull must reach the scan:\n$p")
    val f = finalPlan(df)
    val aggEx = "Exchange hashpartitioning".r.findAllIn(f).length
    assert(aggEx == 1, s"exactly ONE agg exchange expected, got $aggEx:\n$f")
    val scans = "Scan parquet".r.findAllIn(f).length
    assert(scans == 1, s"single lineitem scan expected, got $scans:\n$f")
  }

  test("tpch_q2: quotes agg computes once (ReusedExchange feeds min-quote and join)") {
    val f = finalPlan(q("tpch_q2"))
    assert(f.contains("ReusedExchange"),
      s"the quotes subtree must be computed once and reused:\n$f")
    val scans = "Scan parquet".r.findAllIn(f).length
    // lineitem once (reused), part/supplier/nation/region broadcast scans
    assert(f.contains("BroadcastHashJoin"), s"dims must broadcast:\n$f")
    val liScans = "Scan parquet[^\\n]*l_extendedprice".r.findAllIn(f).length
    assert(liScans == 1, s"lineitem must scan once, got $liScans of $scans:\n$f")
  }

  test("tpch_q10: both dims broadcast; fact joins on orderkey; top-20 never global-sorts") {
    val f = finalPlan(q("tpch_q10"))
    val bhj = "BroadcastHashJoin".r.findAllIn(f).length
    assert(bhj >= 2, s"customer AND nation must broadcast, got $bhj:\n$f")
    assert(f.contains("TakeOrderedAndProject"),
      s"LIMIT 20 must plan as top-k, not global sort:\n$f")
    val ex = "Exchange hashpartitioning".r.findAllIn(f).length
    // two orderkey exchanges (fact-fact SMJ sides) + one custkey agg
    assert(ex <= 3, s"expected <=3 hash exchanges, got $ex:\n$f")
  }

  test("tpch_q14: single fact scan into a broadcast join and a scalar two-phase agg") {
    val df = q("tpch_q14")
    val p = plan(df)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("LessThan(l_shipdate"),
      s"the one-month hull must reach the scan:\n$p")
    val f = finalPlan(df)
    assert(f.contains("BroadcastHashJoin"), s"part must broadcast:\n$f")
    assert(f.contains("partial_"), s"scalar agg must map-side combine:\n$f")
    val liScans = "Scan parquet[^\\n]*l_extendedprice".r.findAllIn(f).length
    assert(liScans == 1, s"lineitem must scan once:\n$f")
    assert(!f.contains("Exchange hashpartitioning"),
      s"a scalar agg needs no hash exchange (SinglePartition only):\n$f")
  }

  test("tpch_q18: one fact Exchange reused by semi-join and re-agg; customer broadcasts") {
    val p = finalPlan(q("tpch_q18"))
    assert(p.contains("BroadcastHashJoin"), s"customer dim must broadcast:\n$p")
    assert(p.contains("ReusedExchange") || {
      // the HAVING agg, the semi-join probe, and the final agg all key on
      // l_orderkey: at most the two fact-side hash exchanges (lineitem +
      // orders) may exist; a third means the funnel re-shuffled
      "Exchange hashpartitioning".r.findAllIn(p).length <= 2
    }, s"HAVING funnel must reuse the orderkey partitioning:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 must not global-sort:\n$p")
  }

  test("tpch_q21: correlations collapse to keyed aggs — no Expand, no fact self-join") {
    val p = finalPlan(q("tpch_q21"))
    assert(!p.contains("Expand"),
      s"two-stage distinct must avoid the countDistinct Expand rewrite:\n$p")
    // lineitem scans once: the EXISTS/NOT-EXISTS pair must NOT become
    // extra scans (the textbook plan reads the fact three times)
    val factScans = "Scan parquet".r.findAllIn(p).length
    assert(factScans <= 4, s"expected <=4 scans (fact + 3 dims), got $factScans:\n$p")
    // (orderkey,suppkey) partials -> orderkey roll-up -> suppkey rollup
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"expected <=3 hash exchanges, got $exchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 must not global-sort:\n$p")
  }

  test("tpch_q13: orders pre-aggregate to custkey counts BEFORE the outer join") {
    val p = finalPlan(q("tpch_q13"))
    assert(p.contains("LeftOuter"), s"customer spine must outer-join:\n$p")
    // the pre-agg plan broadcasts per-custkey COUNTS; the textbook plan
    // would broadcast/shuffle raw order rows into the join instead
    assert("HashAggregate\\(keys=\\[o_custkey".r.findAllIn(p).nonEmpty,
      s"orders must reduce per custkey before the join:\n$p")
    // custkey agg + c_count histogram agg; a third hash exchange means the
    // join re-shuffled what the agg already partitioned
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges:\n$p")
  }

  test("tpch_q19: the OR's fact-local hull reaches the lineitem scan as a pushed filter") {
    // pre-AQE explain: at tiny sf AQE empty-relation-folds the whole join,
    // which would hide the scan this test audits
    val df = q("tpch_q19")
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      p.contains("LessThanOrEqual(l_quantity,30.0)"),
      s"quantity hull must push to the parquet scan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("broadcast"),
      s"part dim must broadcast:\n$p")
  }

  test("tpch_q15: revenue agg materializes once — no second fact scan for the scalar max") {
    val p = finalPlan(q("tpch_q15"))
    val factScans = "lineitem".r.findAllIn(p).length
    assert(factScans == 0,
      s"fact must be scanned inside the checkpointed revenue agg only, found $factScans refs:\n$p")
    assert("FileScan parquet".r.findAllIn(p).length <= 1,
      s"only the supplier dim may scan in the outer plan:\n$p")
  }

  test("tpch_q7: nation pair pushes into both dims; nation broadcast is reused; one fact scan") {
    val p = plan(q("tpch_q7"))
    assert(p.contains("In(n_name, [NATION_3,NATION_7])"),
      s"nation-pair predicate must push to the nation scan:\n$p")
    val f = finalPlan(q("tpch_q7"))
    assert(f.contains("ReusedExchange"),
      s"the filtered-nation broadcast must be shared by both dim sides:\n$f")
    val factScans = "lineitem".r.findAllIn(f).length
    assert(factScans <= 1, s"lineitem must scan once, got $factScans:\n$f")
  }

  test("tpch_q4: EXISTS compiles to a per-order max pre-agg with the date hull pushed") {
    // pre-AQE explain so the lineitem scan is visible even when AQE folds
    val df = q("tpch_q4")
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("GreaterThan(l_shipdate,"),
      s"the quarter+45d hull must push to the lineitem scan:\n$p")
    assert("HashAggregate".r.findAllIn(p).nonEmpty &&
      p.contains("max(l_shipdate"),
      s"the EXISTS must reduce to a per-order max, not a raw-line semi join:\n$p")
    assert(!p.contains("LeftSemi"),
      s"no semi join: the max-reduction replaces it:\n$p")
  }

  test("tpch_q17: part cut broadcasts; both window aggs share ONE partkey exchange") {
    // pre-AQE explain: at tiny sf the Brand#23+MEDIUM cut is empty and AQE
    // folds the whole plan to EmptyRelation, hiding the shape under audit
    val df = q("tpch_q17")
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastHashJoin"), s"part cut must broadcast:\n$p")
    val winExchanges = "hashpartitioning\\(l_partkey".r.findAllIn(p).length
    assert(winExchanges <= 1,
      s"count+sum windows must share one partkey shuffle, got $winExchanges:\n$p")
    val windows = "\\bWindow\\b".r.findAllIn(
      df.queryExecution.executedPlan.toString).length
    assert(windows <= 1, s"both frame aggregates must fuse into one Window:\n$p")
  }

  test("tpch_q22: scalar threshold broadcasts as one row; anti join consumes DISTINCT custkeys") {
    val df = q("tpch_q22")
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the (sum,count) threshold row must broadcast, not shuffle:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"),
      s"the recency predicate must push to the orders scan:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n$p")
    // the anti join's build side must be the DISTINCT custkey reduction,
    // so order rows never reach the join
    assert(p.contains("o_custkey") && "HashAggregate".r.findAllIn(p).nonEmpty,
      s"recent orders must reduce to distinct custkeys map-side:\n$p")
  }

  test("score_logistic_infer: word-count geometry — one doc-keyed agg, no UDF, no second shuffle") {
    val p = finalPlan(q("score_logistic_infer"))
    assert(!p.contains("BatchEvalPython") && !p.contains("UDF"),
      s"classifier scoring must stay codegen, no UDFs:\n$p")
    val hashEx = "hashpartitioning\\(doc_id".r.findAllIn(p).length
    assert(hashEx <= 1,
      s"tokenize→weight must feed ONE doc-keyed exchange, got $hashEx:\n$p")
    // the only other exchange is the deterministic output sort
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"agg + output-sort exchanges only, got $exchanges:\n$p")
  }

  test("eval_pr_auc: descending prefix sums with ZERO Window nodes") {
    val p = finalPlan(q("eval_pr_auc"))
    assert(!p.contains("Window"),
      s"cumSumsByKey must replace the global-order Window:\n$p")
  }

  test("embedding_gram_matrix: one typed-agg pass — partial combine, no Generate, no join") {
    // the registry query unpacks the one-row aggregate driver-side, so the
    // audit targets the exposed agg helper (the collect-during-build rule)
    val p = finalPlan(
      ClusterQueries.gramAggRow(Tables.embeddings(spark, sfDir)))
    assert(p.contains("partial_gramagg") || p.contains("partial_"),
      s"gram buffer must combine map-side (partial aggregation):\n$p")
    assert(!p.contains("Generate"),
      s"no pair explode: the Aggregator folds products in-buffer:\n$p")
    assert(!p.contains("Join"), s"no join anywhere in the agg pass:\n$p")
  }

  test("join_size_cms: sketch cells combine map-side; the fact scans never join raw") {
    // r10 shape: each side pre-reduces to (key, count) ONCE during build
    // (localCheckpointed — the fact scan and its partial_count live behind
    // the checkpoint, the documented builder-gotcha), so the EXPOSED plan
    // is all count-weighted cell aggs over the checkpointed key tables
    val p = finalPlan(q("join_size_cms"))
    assert(p.contains("partial_sum"),
      s"every cell agg must have a map-side partial stage:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"inputs must be the checkpointed (key,count) pre-reduces:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only broadcast one-row combines, no cartesian:\n$p")
    // every join input is an aggregate (cells / keyed counts / one-row
    // totals): a raw lineitem x orders join would defeat the op's purpose,
    // and it would surface as a join keyed on l_orderkey/o_orderkey
    assert(!p.contains("SortMergeJoin [l_orderkey"),
      s"no raw fact-to-fact join:\n$p")
  }

  test("dq_freshness: one type-keyed agg, reference clock broadcast as one row") {
    val p = finalPlan(q("dq_freshness"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the corpus-max reference row must broadcast:\n$p")
    val hashEx = "hashpartitioning\\(event_type".r.findAllIn(p).length
    assert(hashEx <= 1, s"one type-keyed exchange, got $hashEx:\n$p")
  }

  test("stream_watermark_sim: batch-domain window only, watermark broadcast back to the fact") {
    val p = finalPlan(q("stream_watermark_sim"))
    // the running max must ride the micro-batch DOMAIN (per-batch maxima),
    // never the events themselves: exactly one Window node, fed by an
    // aggregate, and the join back to events is a broadcast
    assert("Window".r.findAllIn(p).length <= 1, s"one batch-domain window only:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"watermark table must broadcast:\n$p")
  }

  test("search_diversify: per-source window runs on matching candidates, page is TakeOrdered") {
    val p = finalPlan(q("search_diversify"))
    assert(p.contains("TakeOrderedAndProject"), s"final page must not global-sort:\n$p")
    // the corpus-sized side (documents) must reach the window only through
    // the candidate join — no Window directly over a parquet scan
    assert(p.contains("Window"), s"per-source cap window expected:\n$p")
  }

  test("eval_auc_scaled: no Window node — domain prefix sum via range-partitioned offsets") {
    val df = q("eval_auc_scaled")
    df.collect()
    // cumSumsByKey materializes mid-build (localCheckpoint), so audit the
    // exposed domain helper path: the registry query's final plan must be
    // window-free end to end
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"scaled AUC must not plan a Window:\n$p")
  }

  test("corr_pearson: single scalar aggregate with map-side partials, no join, no window") {
    val p = finalPlan(q("corr_pearson"))
    assert(p.contains("partial_"), s"sufficient stats must partial-aggregate:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"one-pass scalar agg expected:\n$p")
    // exactly the one single-partition exchange that merges the partials
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected <=1 exchange, got $exchanges:\n$p")
  }

  test("sample_reservoir: bottom-k plans as TakeOrderedAndProject (corpus never shuffles)") {
    val p = finalPlan(q("sample_reservoir"))
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k hashing must be a per-partition top-k merge:\n$p")
  }

  test("whole-stage codegen covers the scan->filter->project pipeline") {
    val p = finalPlan(q("scan_parquet"))
    assert(p.contains("*(1)"), s"pipeline must run inside WholeStageCodegen (the *(n) marker):\n$p")
  }

  test("ivf assignment: map-only — no Exchange between corpus scan and scoring") {
    val e = Tables.embeddings(spark, sfDir)
    val centroids = graft.ops.VectorOps.kmeansCentroids(e, 8, 1)
    val p = finalPlan(graft.ops.VectorOps.assignToNearest(e, centroids))
    assert(!p.contains("Exchange"),
      s"nearest-centroid assignment must be a per-row fold, not a shuffle:\n$p")
  }

  test("window_rank_topn_agg: k-bounded partial aggregation, no window sort") {
    val p = finalPlan(q("window_rank_topn_agg"))
    assert(p.contains("partial_topkagg") || p.contains("partial_TopKAgg")
      || "(?i)partial_.*topk".r.findFirstIn(p).isDefined,
      s"top-k aggregator must combine map-side:\n$p")
    assert(!p.contains("Window"), s"no window operator — that's the point:\n$p")
  }

  test("vocab_topk: candidate cut plans as TakeOrderedAndProject; rank window sees a bounded set") {
    val p = finalPlan(q("vocab_topk"))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N must be a per-partition heap + merge, not a global sort:\n$p")
  }

  test("skills_cascade: scan-shaped — no joins, single fan-out exchange before the sort") {
    val p = finalPlan(q("skills_cascade"))
    assert(!p.contains("Join"), s"cascade must be pure column expressions:\n$p")
  }

  test("knn: query side broadcasts; corpus is never shuffled before scoring") {
    val p = plan(q("knn_cosine_topk"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"bounded query set must broadcast:\n$p")
    assert(p.contains("vec_cosine"), s"native expression must appear in the plan:\n$p")
  }

  test("quality_gate: scan-shaped — no joins, no keyed shuffle") {
    val p = finalPlan(q("quality_gate"))
    assert(!p.contains("Join"), s"per-row rule math only:\n$p")
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined,
      s"no keyed shuffle in a per-document gate:\n$p")
  }

  test("knn_q8_rescore: query side broadcasts; native vec_qdot scores the corpus stream") {
    val p = plan(q("knn_q8_rescore"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"bounded query set must broadcast:\n$p")
    assert(p.contains("vec_qdot"), s"native quantized dot must appear in the plan:\n$p")
  }

  test("knn_ann_pq: corpus streams twice, never shuffled — ADC tables and candidate ids broadcast") {
    val p = plan(q("knn_ann_pq"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query ADC tables and candidate ids must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"neither corpus pass may shuffle on a join key:\n$p")
    // the only hash exchanges allowed are the per-query rank windows over
    // candidate/code rows, both partitioned by query_id — never a corpus key
    "Exchange hashpartitioning\\(([a-z_]+)".r.findAllMatchIn(p).foreach { m =>
      assert(m.group(1) == "query_id",
        s"corpus-side shuffle leaked (key ${m.group(1)}):\n$p")
    }
  }

  test("decontam_overlap: eval-set grams broadcast; corpus grams never shuffle on the gram key") {
    val p = finalPlan(q("decontam_overlap"))
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark gram set must broadcast:\n$p")
    // exactly ONE gram-key exchange: the benchmark set's distinct (tiny,
    // pre-broadcast). The corpus side must meet the join map-side.
    val gramShuffles = "Exchange hashpartitioning\\(gram".r.findAllIn(p).length
    assert(gramShuffles <= 1,
      s"corpus grams must be filtered map-side, not shuffled on gram:\n$p")
  }

  test("repetition_ratio: scan-shaped — no joins, no aggregation exchange") {
    val p = finalPlan(q("repetition_ratio"))
    assert(!p.contains("Join"), s"per-row array math only:\n$p")
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined,
      s"no keyed shuffle in a per-document op:\n$p")
  }

  test("pack_sequences / domain_cap: windows are stream/domain-partitioned, never global") {
    for (name <- Seq("pack_sequences", "domain_cap", "dedup_canonical_pick")) {
      val p = finalPlan(q(name))
      assert(!p.contains("SinglePartition") || !p.contains("Window"),
        s"$name must not plan an unpartitioned window:\n$p")
    }
  }

  test("dedup_canonical_pick: quality expression only evaluates above the dup-family join") {
    val df = q("dedup_canonical_pick")
    val opt = df.queryExecution.optimizedPlan
    // Tree-walk (not string offsets): no Join SUBTREE may contain the heavy
    // qualityReasonsOf projection (its array_distinct marker) — it must be
    // computed strictly above the dup-family join, so only multi-member
    // family rows pay it. That's the whole point of the r05 pruning.
    val joins = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty, s"expected the dup-family join in:\n$opt")
    assert(!joins.exists(_.toString.contains("array_distinct")),
      s"qualityReasonsOf must not be computed below the dup-family join:\n$opt")
    assert(opt.toString.contains("array_distinct"),
      s"qualityReasonsOf must still be computed (above the join):\n$opt")
    // and the family sizes must come from an aggregate BELOW that join,
    // not from a corpus-wide window
    assert(joins.exists(_.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty), s"group sizes must come from an aggregate under the join:\n$opt")
  }

  test("tfidf_topk: df reuses tf's (doc,term) shuffle; ranking window partitions by doc") {
    val df = q("tfidf_topk")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"the df agg must reuse tf's shuffle, not recompute the corpus scan:\n$p")
    assert(p.contains("partial_count"), s"both aggs must map-side combine:\n$p")
    assert(!("Window".r.findAllIn(p).nonEmpty && p.contains("Window [") &&
      p.contains("windowspecdefinition()")),
      s"ranking window must be partitioned:\n$p")
  }

  test("chunk_dedup: occurrence counting joins back without re-scanning (ReusedExchange), no all-pairs") {
    val p = finalPlan(q("chunk_dedup"))
    assert(p.contains("ReusedExchange"),
      s"the join back to per-doc chunks must reuse the agg's shuffle:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"chunk dedup must never plan an all-pairs join:\n$p")
  }

  test("lm_bigram_score: model joins shuffle on the gram key — no cartesian, map-side combine on counts") {
    val p = finalPlan(q("lm_bigram_score"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"vocabulary-sized model must not broadcast-nested-loop:\n$p")
    assert(p.contains("partial_count"),
      s"model counts must map-side combine:\n$p")
  }

  test("sample_temperature: totals broadcast; per-source frame never shuffle-joins") {
    val p = finalPlan(q("sample_temperature"))
    assert(p.contains("BroadcastExchange"),
      s"the one-row totals must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in a per-source rollup should need a shuffle join:\n$p")
  }

  test("decontam_verbatim: gram-anchored candidate cut before the contains() verify") {
    val df = q("decontam_verbatim")
    val p = finalPlan(df)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the contains() verify must be a broadcast nested loop over tiny needles:\n$p")
    // the candidate cut: corpus bigrams semi-join the broadcast anchor set
    // map-side — candidates, not the corpus, pay the verify
    assert(p.contains("LeftSemi"),
      s"corpus must be cut to candidates via an anchor semi-join:\n$p")
    val o = df.queryExecution.optimizedPlan.toString
    val verifyAt = o.indexOf("Contains(lower(text")
    val semiAt = o.indexOf("LeftSemi")
    assert(verifyAt >= 0 && semiAt > verifyAt,
      s"the anchor semi-join must sit BELOW the contains() verify:\n$o")
    // Scoped no-corpus-shuffle invariant (ADVICE r05): the candidate-ids →
    // text rejoin is exactly where a corpus-wide shuffle join could sneak
    // back in. It must plan as a BROADCAST semi (ids are the build side);
    // no stage of this query may sort-merge the corpus.
    assert(!p.contains("SortMergeJoin"),
      s"corpus text must never shuffle-join — candidate ids broadcast:\n$p")
    assert("BroadcastHashJoin \\[doc_id[\\s\\S]{0,200}?LeftSemi".r.findFirstIn(p).isDefined,
      s"the candidate-id → text rejoin must be a broadcast semi on doc_id:\n$p")
  }

  test("bpe_merge_topk: top-20 plans as TakeOrderedAndProject over vocabulary-sized pair counts") {
    val p = finalPlan(q("bpe_merge_topk"))
    assert(p.contains("TakeOrderedAndProject"),
      s"bounded top-k must never global-sort:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"word and pair counts must map-side combine:\n$p")
  }

  test("join_bucketed: both join inputs read bucketed — zero shuffle exchange below the join") {
    val df = q("join_bucketed")
    val full = plan(df)       // formatted explain carries the Bucketed: marker
    val p = finalPlan(df)
    assert(p.contains("SortMergeJoin"),
      s"the merge hint must pin the sort-merge path so the bucketed read is exercised:\n$p")
    assert(full.contains("Bucketed: true"),
      s"both scans must report bucketed reads:\n$full")
    // the ONLY hash exchange is the group-by on c_mktsegment above the
    // join; neither join input may shuffle — that is the entire point of
    // bucketBy on the repeated daily join key
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"bucketed join inputs must not shuffle (expected <=1 exchange, the agg), got $exchanges:\n$p")
    assert(!"Exchange hashpartitioning\\([oc]_custkey".r.findFirstIn(p).isDefined,
      s"no exchange on the bucketed join key may appear:\n$p")
  }

  test("subquery_exists / subquery_not_exists: predicate subqueries rewrite to semi/anti joins with subquery-side pushdown") {
    val pe = plan(q("subquery_exists"))
    assert(pe.contains("LeftSemi"), s"EXISTS must plan as a LEFT SEMI join:\n$pe")
    assert(pe.contains("GreaterThanOrEqual(l_quantity,48"),
      s"the subquery's own predicate must reach the lineitem scan:\n$pe")
    assert(pe.contains("partial_count"), s"the priority agg must map-side combine:\n$pe")
    val pn = plan(q("subquery_not_exists"))
    assert(pn.contains("LeftAnti"), s"NOT EXISTS must plan as a LEFT ANTI join:\n$pn")
    assert(pn.contains("GreaterThan(o_totalprice,250000"),
      s"the guard predicate must reach the orders scan before the anti join builds:\n$pn")
  }

  test("subquery_in: grouped-HAVING membership is ONE aggregate + semi join, not a per-row probe") {
    val p = finalPlan(q("subquery_in"))
    assert(p.contains("LeftSemi"), s"IN must plan as a LEFT SEMI join:\n$p")
    assert(p.contains("partial_sum"),
      s"the HAVING sum must map-side combine before the semi build:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"membership must never be an all-pairs probe:\n$p")
  }

  test("subquery_scalar: both scalar aggregates execute ONCE and are reused as literals") {
    val df = q("subquery_scalar")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Subquery subquery"), s"expected a hoisted scalar subquery:\n$p")
    assert(p.contains("ReusedSubquery"),
      s"the second scalar over the same frame must REUSE the first's result, not re-scan:\n$p")
  }

  test("subquery_correlated: correlated scalar aggregates decorrelate to keyed group-bys + joins") {
    val df = q("subquery_correlated")
    val opt = df.queryExecution.optimizedPlan
    // decorrelation proof: no subquery expressions survive optimization —
    // they become Aggregate(o_custkey) subtrees joined back
    val aggs = opt.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.groupingExpressions.exists(_.toString.contains("o_custkey")) => a
    }
    assert(aggs.nonEmpty, s"per-customer aggregate must exist after decorrelation:\n$opt")
    val p = finalPlan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decorrelation must not fall back to nested-loop re-scans:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the decorrelated aggregates must map-side combine:\n$p")
  }

  test("subquery_lateral: LATERAL ... LIMIT 1 plans as a map-side WindowGroupLimit, never a per-outer-row re-scan") {
    val p = finalPlan(q("subquery_lateral"))
    assert(p.contains("WindowGroupLimit"),
      s"the per-nation top-1 must push a group-limit below the shuffle:\n$p")
    assert("WindowGroupLimit [\\s\\S]{0,200}?Partial".r.findFirstIn(p).isDefined ||
      p.contains(", Partial"),
      s"a PARTIAL group-limit must run map-side before the exchange:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lateral must decorrelate, not nested-loop:\n$p")
  }

  test("funnel_steps: per-step minima broadcast back — the event fact never fact×fact joins") {
    val p = finalPlan(q("funnel_steps"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"per-user step times are dim-sized and must broadcast onto the fact:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast step joins:\n$p")
    assert(p.contains("ReusedExchange"),
      s"the step-1 broadcast must be reused by both downstream steps, not rebuilt:\n$p")
  }

  test("cohort_retention / anomaly_zscore: per-entity reduction first, stats broadcast back") {
    for (name <- Seq("cohort_retention", "anomaly_zscore")) {
      val p = finalPlan(q(name))
      assert(p.contains("BroadcastHashJoin"),
        s"$name: the reduced per-entity frame must broadcast onto the fact:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name: no fact-sized shuffle join:\n$p")
      assert(p.contains("partial_"), s"$name: aggregates must map-side combine:\n$p")
    }
  }

  test("join_range_binned: the interval join is ONE bin-keyed equi join — no nested loop survives") {
    val p = finalPlan(q("join_range_binned"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the binning rewrite must replace the inequality nested loop:\n$p")
    assert(p.contains("__bin"), s"the equi join must key on the bin id:\n$p")
  }

  test("RewriteBinnedRangeJoin: the naive inequality join is auto-rewritten; hinted band join is left alone") {
    val pa = finalPlan(q("join_range_auto"))
    assert(!pa.contains("BroadcastNestedLoopJoin") && !pa.contains("CartesianProduct"),
      s"the optimizer rule must bin the naive band join:\n$pa")
    assert(pa.contains("__bin_l") && pa.contains("__bin_r"),
      s"expected the rule's bin keys in the join:\n$pa")
    // the 3-row broadcast-hinted dim keeps its nested loop — that IS the
    // right plan for a tiny dim, and the hint guard must respect it
    val pb = finalPlan(q("join_range_bands"))
    assert(pb.contains("BroadcastNestedLoopJoin"),
      s"hinted tiny-dim band join must stay a broadcast nested loop:\n$pb")
  }

  test("RewriteBinnedRangeJoin: degenerate/inverted intervals yield no rows, not a Sequence crash") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    spark.conf.set("spark.graft.rangeJoin.binWidth", "4000")
    try {
      val facts = Seq(4000.0, 8000.0).toDF("x")
      val intervals = Seq(
        ("empty_on_boundary", 8000.0, 8000.0), // lo == hi on a bin edge
        ("inverted", 9000.0, 1000.0),
        ("real", 0.0, 5000.0)
      ).toDF("name", "lo", "hi")
      val joined = facts.join(intervals,
        col("x") >= col("lo") && col("x") < col("hi"))
      val got = joined.select("name", "x").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(got == Set(("real", 4000.0)), s"wrong rows: $got")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("__bin_l"), s"rewrite should have fired:\n$p")
    } finally spark.conf.unset("spark.graft.rangeJoin.binWidth")
  }

  test("RewriteBinnedRangeJoin: an unbinnable interval raises an actionable " +
      "error, not an opaque sequence crash (r10)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    spark.conf.set("spark.graft.rangeJoin.binWidth", "10")
    try {
      val facts = Seq(5.0).toDF("x")
      val intervals = Seq(
        ("huge", 0.0, 1.0e18),
        ("inf", 0.0, Double.PositiveInfinity)
      ).toDF("name", "lo", "hi")
      val joined = facts.join(intervals,
        col("x") >= col("lo") && col("x") < col("hi"))
      val ex = intercept[Exception](joined.collect())
      val msg = Option(ex.getMessage).getOrElse("") +
        Option(ex.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("rangeJoin.binWidth"),
        s"error must name the remediation conf, got: $msg")
    } finally spark.conf.unset("spark.graft.rangeJoin.binWidth")
  }

  test("join_range_auto: builder leaves no spark.graft conf armed; plan stays rewritten") {
    val df = q("join_range_auto")
    assert(spark.conf.getOption("spark.graft.rangeJoin.binWidth").isEmpty,
      "binWidth conf leaked from the builder")
    val p = finalPlan(df)
    assert(p.contains("__bin_l") && !p.contains("BroadcastNestedLoopJoin"),
      s"rewritten plan must survive the conf unset:\n$p")
  }

  test("join_null_safe: EqualNullSafe stays a hashable equi join, never a nested loop") {
    val p = finalPlan(q("join_null_safe"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"<=> must keep hash-join planning:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"expected an equi join:\n$p")
  }

  test("global_rownum: no single-partition Window — numbering stays partition-local") {
    import org.apache.spark.sql.functions.col
    val df = q("global_rownum")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"global row numbers must come from range-partition offsets, not an " +
        s"empty-partition-spec window (one-task coalesce at scale):\n$p")
    // the checkpoint pins (and hides) the exchange — audit the sorted stage
    val sp = finalPlan(RelationalQueries.rangeSortedPairs(spark, sfDir))
    assert(sp.contains("rangepartitioning") && !sp.contains("Window"),
      s"the total order must come from range partitioning:\n$sp")
    // and it must actually equal the window form
    import org.apache.spark.sql.expressions.Window
    val win = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number()
        .over(Window.orderBy("l_orderkey", "l_linenumber")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val got = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got == win)
  }

  test("window_ntile_scaled / rfm_segments_scaled: no Window node at all — " +
      "quantile buckets come from range-partition ranks") {
    for (name <- Seq("window_ntile_scaled", "rfm_segments_scaled")) {
      val df = q(name)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"),
        s"$name must not plan a window (the ntile form's empty partition " +
          s"spec is a one-task global sort at scale):\n$p")
    }
    // and the twins must agree with their window forms row-for-row
    for ((a, b) <- Seq("window_ntile" -> "window_ntile_scaled",
        "rfm_segments" -> "rfm_segments_scaled")) {
      val l = q(a).collect().map(_.toSeq).toSeq
      val r = q(b).collect().map(_.toSeq).toSeq
      assert(l == r, s"$b must reproduce $a exactly")
    }
  }

  test("sql_recursive_chain: recursion executes as UnionLoop; rollup map-side combines") {
    val df = q("sql_recursive_chain")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("UnionLoop"),
      s"recursive CTE must plan as UnionLoop, not a materialized unrolling:\n$p")
    // anchor (< 10) and step (>= 10) predicates both sit on the scans inside
    // the loop body — each level reads the frontier join, never full-table work
    assert(p.contains("c_custkey#") && p.contains("< 10)") && p.contains(">= 10)"),
      s"anchor/step filters must reach the loop-body scans:\n$p")
    assert(p.contains("partial_count"),
      s"the per-(root,level) rollup must map-side combine:\n$p")
  }

  test("record_linkage: lev verify pairs only within blocks, over the name dictionary") {
    // The CC loop checkpoints eagerly, so the final query plan no longer
    // contains the pairing join — audit the candidate-edge subplan itself.
    // Dictionary-heavy data (64 distinct names over 20k+ records at sf0.1)
    // made record-level pairing quadratic in the hot blocks (29s); both
    // sides of the verify join must sit ABOVE the name-dedup Aggregate so
    // pair work is dictionary² per block, never records².
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.functions.col
    val recs = Tables.part(spark, sfDir)
      .select(col("p_partkey").as("rec_id"), col("p_name").as("name"))
    val edges = EntityQueries.nameEdges(EntityQueries.nameDict(recs))
    val p = finalPlan(edges)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairing must be blocked (join on blk), never all-pairs:\n$p")
    val o = edges.queryExecution.optimizedPlan
    val levJoins = o.collect {
      case j: Join if j.condition.exists(_.toString.toLowerCase.contains("levenshtein")) => j
    }
    assert(levJoins.nonEmpty, s"expected a levenshtein-verified candidate join:\n$o")
    assert(levJoins.forall(_.children.forall(
        c => c.collectFirst { case a: Aggregate => a }.isDefined)),
      s"verify join inputs must be the aggregated name dictionary:\n$o")
  }

  test("curation_e2e: one corpus-sized shuffle end to end; survivors rejoin by broadcast") {
    val p = finalPlan(q("curation_e2e"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the only joins are broadcast semi (surviving ids are bare longs):\n$p")
    // corpus-sized exchanges: the dedup group-by on nt and the final lang agg
    // (plus their partial stages) — no more
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"pipeline must not re-shuffle the corpus per stage (got $exchanges):\n$p")
    assert(p.contains("partial_count"), s"aggregates must map-side combine:\n$p")
  }

  test("tpch_q6: all three predicates reach the parquet scan") {
    val p = plan(q("tpch_q6"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate lower bound must push down:\n$p")
    assert(p.contains("LessThan(l_shipdate"),
      s"shipdate upper bound must push down:\n$p")
    assert(p.contains("LessThan(l_quantity,24"),
      s"quantity bound must push down:\n$p")
  }

  test("kmeans_assign / dedup_semantic: assignment is map-only; pairing shuffles ONLY on the cluster id") {
    val pk = finalPlan(q("kmeans_assign"))
    assert(!pk.contains("CartesianProduct") && !pk.contains("BroadcastNestedLoopJoin"),
      s"centroids ride the plan as a literal — no join for assignment:\n$pk")
    val ps = finalPlan(q("dedup_semantic"))
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoopJoin"),
      s"the semantic prune must pair within clusters, never all-pairs:\n$ps")
    assert("hashpartitioning\\(cid".r.findFirstIn(ps).isDefined ||
      ps.contains("BroadcastHashJoin [cid"),
      s"the self-join must key on cid (cluster-bounded pairing):\n$ps")
  }

  test("tpch_q3: dates push to both scans, customer broadcasts, top-10 never global-sorts") {
    val p = plan(q("tpch_q3"))
    assert(p.contains("GreaterThan(l_shipdate"), s"shipdate must push down:\n$p")
    assert(p.contains("LessThan(o_orderdate"), s"orderdate must push down:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"customer dim must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must not global-sort:\n$p")
    // SMJ: one exchange per side; the groupBy's keys start with l_orderkey,
    // so the aggregation reuses the join partitioning (no third exchange)
    val f = finalPlan(q("tpch_q3"))
    val keyed = "Exchange hashpartitioning".r.findAllIn(f).length
    assert(keyed <= 2, s"groupBy must reuse the orderkey shuffle, got $keyed:\n$f")
  }

  test("join_bloom_prefilter: might_contain gates the fact scan below the shuffle join") {
    val p = finalPlan(q("join_bloom_prefilter"))
    assert(p.contains("might_contain"), s"Bloom probe must appear in the fact filter:\n$p")
    assert(p.contains("SortMergeJoin"), s"the demo models the no-broadcast regime:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"dim must not broadcast here:\n$p")
    // the probe must run BELOW the join (map-side, pre-exchange): in the
    // printed tree the join is the root, so it appears before the filter
    assert(p.indexOf("SortMergeJoin") < p.indexOf("might_contain"),
      s"probe must be on the scan side of the exchange:\n$p")
  }

  test("decontam_bloom: codegen Bloom gate between the explode and the verify join") {
    val p = finalPlan(q("decontam_bloom"))
    assert(p.contains("might_contain"), s"Bloom gate must appear in the plan:\n$p")
    // tree prints root-first: the gate (above Generate, below the join)
    // must appear after the join and before the explode
    assert(p.indexOf("BroadcastHashJoin") < p.indexOf("might_contain") &&
      p.indexOf("might_contain") < p.indexOf("Generate"),
      s"gate must sit between explode and verify join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
  }

  test("search_bm25: query-term filter below both aggregates; dims broadcast; top-k never global-sorts") {
    val p = finalPlan(q("search_bm25"))
    // the candidate cut must happen before any shuffle: the IN filter sits
    // between the Generate (explode) and the first partial aggregate
    val gen = p.indexOf("Generate explode")
    val filt = p.indexOf("Filter term")
    assert(gen >= 0 && filt >= 0 && filt < gen ||
      p.contains("IN (spark,join,stream)\n") || p.contains("Filter term"),
      s"query-term filter must exist below the agg:\n$p")
    assert("Filter term\\S* IN \\(spark,join,stream\\)".r.findAllIn(p).length >= 2,
      s"both the tf and df branches must cut to query terms pre-shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must not global-sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"df/doc-length dims must broadcast:\n$p")
  }

  test("search_phrase: adjacency is a keyed equi join on (doc,pos), never a nested loop") {
    val p = finalPlan(q("search_phrase"))
    assert(!p.contains("NestedLoop") || p.contains("BroadcastHashJoin") ||
      p.contains("SortMergeJoin"), s"adjacency join must be keyed:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"expected an equi join on (doc_id,pos):\n$p")
    assert("Filter .*IN \\(spark,join\\)|Filter term\\S* IN".r.findFirstIn(p).isDefined,
      s"phrase terms must filter before the join:\n$p")
  }

  test("index_merge_delta: side filters push below the explodes; merge is one term-keyed join") {
    val p = plan(q("index_merge_delta"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"term merge must be an equi join:\n$p")
    assert(p.contains("FullOuter"), s"merge must be full-outer on term:\n$p")
    // the two builds split the corpus disjointly BEFORE token explode — the
    // doc-side predicates must sit below each Generate, not above the aggs
    assert("\\(doc_id#\\d+L % 10\\)".r.findAllIn(p).nonEmpty,
      s"doc-split predicates missing:\n$p")
  }

  test("window_range_frame_bucketed: window partitions on (type,bucket), never type alone") {
    val p = finalPlan(q("window_range_frame_bucketed"))
    assert(p.contains("hashpartitioning(event_type"), s"window must shuffle on its keys:\n$p")
    assert("hashpartitioning\\(event_type\\S*, bucket".r.findFirstIn(p).isDefined,
      s"bucket must be part of the window partitioning (the parallelism fix):\n$p")
    // the naive twin by contrast partitions on the 5-value type key only
    val pn = finalPlan(q("window_range_frame"))
    assert(!"hashpartitioning\\(event_type\\S*, bucket".r.findFirstIn(pn).isDefined)
  }

  test("window_range_frame_bucketed: one Window node and no moving RANGE frame") {
    import org.apache.spark.sql.catalyst.expressions.{RangeFrame, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression}
    import org.apache.spark.sql.catalyst.plans.logical.Window
    /** The lower bounds of every RANGE frame, per Window node. */
    def rangeLowers(df: DataFrame): Seq[Seq[Any]] =
      df.queryExecution.optimizedPlan.collect { case w: Window =>
        w.windowExpressions.flatMap(_.collect {
          case WindowExpression(_, spec) => spec.frameSpecification
        }).collect { case SpecifiedWindowFrame(RangeFrame, lower, _) => lower }
      }
    val bucketed = rangeLowers(q("window_range_frame_bucketed"))
    assert(bucketed.size == 1, s"expected one Window node: $bucketed")
    assert(bucketed.head.nonEmpty && bucketed.head.forall(_ == UnboundedPreceding),
      s"every RANGE frame must grow from the partition start: $bucketed")
    // the naive twin keeps the moving frame
    assert(rangeLowers(q("window_range_frame")).flatten.exists(_ != UnboundedPreceding))
  }

  test("ts_*_scaled: rolling-frame windows partition on (type,bucket), never type alone") {
    for (name <- Seq("ts_rolling_median_scaled", "ts_hampel_filter_scaled")) {
      val p = finalPlan(q(name))
      assert("hashpartitioning\\(event_type\\S*, bucket".r.findFirstIn(p).isDefined,
        s"$name: bucket must be part of the frame window's partitioning:\n$p")
      // the naive twins by contrast window on the 5-value type key only —
      // the parallelism ceiling this rewrite exists to remove
      val pn = finalPlan(q(name.stripSuffix("_scaled")))
      assert(!"hashpartitioning\\(event_type\\S*, bucket".r.findFirstIn(pn).isDefined)
    }
  }

  test("dedup_simhash_scaled: explode-before-join, candidate join keyed on the combo key") {
    val p = finalPlan(q("dedup_simhash_scaled"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"combo-table candidates must never go all-pairs:\n$p")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[ck#".r.findFirstIn(p).isDefined,
      s"candidate join must be keyed on the C(6,3) combo key:\n$p")
    // one Generate per join side: the 20 combination keys explode BELOW the
    // join (each side scans the checkpointed sigs once) — a single post-join
    // Generate would mean candidates were formed before bucketing
    assert("Generate explode".r.findAllIn(p).length >= 2,
      s"both join inputs must explode their combo keys pre-join:\n$p")
  }

  test("dedup_incremental_prefix: keyed joins only, positional cut in-plan, df agg reused") {
    val p = finalPlan(q("dedup_incremental_prefix"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"cross-prefix candidates must never go all-pairs:\n$p")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[tok#".r.findFirstIn(p).isDefined,
      s"candidate join must be keyed on the token:\n$p")
    // both sides' prefix cuts ((sz*4+4) div 5) and the r13 positional
    // filter (9·(1+min suffix) ≥ 4·(sa+sb)) must survive to the physical
    // plan — losing either silently reverts to the 12×/decade naive form
    assert("div 5".r.findAllIn(p).length >= 2, s"prefix cuts missing:\n$p")
    assert(p.contains("min_by") && "\\* 9\\) >= ".r.findFirstIn(p).isDefined,
      s"positional first-match filter missing:\n$p")
    // the union-df token order is computed ONCE and reused across sides at
    // scale. Under the r15 corpus-sized coalesce (DedupOps.corpusTasks) a
    // TINY corpus — this fixture — plans the sides as broadcast joins
    // instead, where the re-broadcast agg is a handful of rows by
    // construction; the coalesce node in the plan is the witness that the
    // small-corpus dispatch (not a lost reuse) produced this shape. At
    // ≥cores×1k docs corpusTasks returns the old cores-wide layout and the
    // exchange reuse holds as before.
    assert(p.contains("ReusedExchange") || "Coalesce \\d".r.findFirstIn(p).isDefined,
      s"union-df aggregate must be a reused exchange (or the corpus-sized" +
        s" coalesce dispatch):\n$p")
  }

  test("assoc_rules: the dictionary-match subtree's exchange is REUSED, not recomputed") {
    // items and pairs both grow from the same doc_id exchange; the r07 form
    // recomputed the Aho-Corasick match 3x via a self-join — the fix is only
    // real if AQE stage reuse actually collapses the identical exchanges
    val p = finalPlan(q("assoc_rules"))
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).length <= 1,
      s"match+basket subtree must execute once:\n$p")
  }

  test("chunk_cdc: native expression, distinct-agg exchanges only, no join") {
    val p = finalPlan(q("chunk_cdc"))
    assert(!p.contains("Join"), s"CDC dedup is scan + one agg:\n$p")
    // count(*) + count(DISTINCT doc_id) in one groupBy plans as the
    // standard two-exchange distinct-aggregate pair — anything beyond that
    // would be a redundant shuffle
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyed <= 2, s"expected the distinct-agg pair, got $keyed:\n$p")
    val full = plan(q("chunk_cdc"))
    assert(full.contains("cdc_chunks"), s"native expression missing:\n$full")
  }

  test("mine_hard_negatives: bounded query set broadcasts, corpus never shuffles pre-join") {
    val p = finalPlan(q("mine_hard_negatives"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
  }

  test("dedup_substring_spans: gram table shuffles on the hash key only") {
    val p = finalPlan(q("dedup_substring_spans"))
    assert("Exchange hashpartitioning\\(gh".r.findFirstIn(p).isDefined,
      s"shared-gram agg must key on the gram hash:\n$p")
    assert(p.contains("partial_count"), s"map-side combine expected:\n$p")
  }

  test("shard_rendezvous: map-only — the only exchange carries the 8-row aggregate") {
    val p = finalPlan(q("shard_rendezvous"))
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyed <= 1, s"HRW assignment must not shuffle the corpus:\n$p")
    assert(p.contains("partial_count"), s"map-side combine expected:\n$p")
  }

  test("embedding_norms / length_histogram / url_canonicalize: scan-shaped or single keyed agg") {
    val pNorm = finalPlan(q("embedding_norms"))
    assert(!"Exchange hashpartitioning".r.findFirstIn(pNorm).isDefined,
      s"per-vector math must not shuffle on a key:\n$pNorm")
    for (name <- Seq("length_histogram", "url_canonicalize")) {
      val p = finalPlan(q(name))
      assert(p.contains("partial_count"), s"$name must map-side combine:\n$p")
      assert(!p.contains("Join"), s"$name is one scan + one agg:\n$p")
      val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(keyed <= 1, s"$name needs at most one keyed exchange, got $keyed:\n$p")
    }
  }

  test("tpch_q5/q8/q9/q20: every dim join broadcasts — no SortMergeJoin except fact-fact") {
    // q20 is checked through the full dump (incl. the pre-AQE initial plan):
    // its sf0.001 result is empty, so AQE's PropagateEmptyRelation erases
    // the final join tree entirely — the intent lives in the initial plan.
    for (name <- Seq("tpch_q5", "tpch_q8", "tpch_q9")) {
      val p = finalPlan(q(name))
      assert(p.contains("BroadcastHashJoin"), s"$name dims must broadcast:\n$p")
      // the only permitted shuffle joins are the lineitem x orders legs
      val smj = "SortMergeJoin".r.findAllIn(p).length
      assert(smj <= 1, s"$name: expected at most the one fact-fact SMJ, got $smj:\n$p")
    }
    val p20 = plan(q("tpch_q20"))
    assert(p20.contains("BroadcastHashJoin") || p20.contains("broadcast"),
      s"q20 dims must broadcast (initial plan):\n$p20")
  }

  test("tpch_q12: order-year predicate pushed to the orders scan; lateness is post-join") {
    val p = plan(q("tpch_q12"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date cut must reach the orders scan:\n$p")
  }

  test("tpch_q11: one fact scan — scalar-total branch rides the checkpointed agg") {
    val p = finalPlan(q("tpch_q11"))
    // the localCheckpoint truncates lineage: the visible plan reads the
    // checkpointed per-part agg, so no lineitem scan may appear twice
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 0, s"q11's visible plan must run on the checkpointed agg (no re-scan):\n$p")
  }

  test("tpch_q16: exclusion anti-join broadcasts BELOW the distinct pair reduction") {
    // sf0.001 may have zero negative-balance suppliers, in which case AQE
    // eliminates the anti join from the final plan — assert on the full
    // dump (which keeps the initial plan) that the anti join exists and
    // sits under the distinct, and that the part dim broadcasts.
    val p = plan(q("tpch_q16"))
    assert(p.contains("LeftAnti"),
      s"bad-supplier exclusion must be an anti join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"part dim must broadcast:\n$p")
  }

  test("search_rrf_fusion: rank windows sit above TakeOrdered candidate cuts, fusion join is tiny") {
    val p = finalPlan(q("search_rrf_fusion"))
    assert(p.contains("TakeOrderedAndProject"),
      s"candidate lists must be TakeOrdereds, not global sorts:\n$p")
  }

  test("knn_matryoshka_recall: broadcast-query BNLJ, both rank windows share one query_id exchange") {
    val p = finalPlan(q("knn_matryoshka_recall"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"bounded query set must broadcast:\n$p")
    // one query_id exchange feeds BOTH rank windows (they differ only in
    // orderBy, so the second window re-sorts without re-shuffling); the
    // other permitted query_id exchange is the final left-outer join's
    // query-list side
    val keyed = "Exchange hashpartitioning\\(query_id".r.findAllIn(p).length
    assert(keyed <= 2, s"expected the shared window shuffle + the join side, got $keyed:\n$p")
    assert(!p.contains("Window (") ||
      p.split("Window").length <= 3, s"both windows must plan:\n$p")
  }

  test("eval_subsample_ci: map-side combine into 32 replicate keys, no join") {
    val p = finalPlan(q("eval_subsample_ci"))
    assert(p.contains("partial_"), s"replicate agg must map-side combine:\n$p")
    assert(!p.contains("Join"), s"one scan, no join:\n$p")
  }

  test("dq_k_anonymity: one customer scan, keyed agg then scalar rollup") {
    val p = finalPlan(q("dq_k_anonymity"))
    assert(!p.contains("Join"), s"one scan, no join:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"exactly one customer scan, got $scans:\n$p")
  }
}
