package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the 100 TB story: predicates and projections
  * must reach the parquet scan, small dims must broadcast, top-k must not
  * globally sort.
  */
class PlanSpec extends AnyFunSuite {
  import SparkFixture._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("scan_pushdown pushes the shipdate predicate into the parquet scan") {
    val p = plan("scan_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"), p)
  }

  test("scan_project prunes columns at the reader") {
    val p = plan("scan_project")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_shipdate"), s"unused column not pruned:\n$p")
  }

  test("join_broadcast uses a broadcast join, not a shuffle") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("topk compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("agg_basic uses two-phase hash aggregation") {
    val p = plan("agg_basic")
    assert(p.contains("HashAggregate"), p)
  }

  test("join_shuffle broadcasts the customer dimension at test scale") {
    val df = SparkEntry.queries("join_shuffle")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("join_semi and join_anti use semi/anti join operators") {
    assert(plan("join_semi").contains("LeftSemi"), plan("join_semi"))
    assert(plan("join_anti").contains("LeftAnti"), plan("join_anti"))
  }

  test("dedup_near merges hashed id arrays in codegen and broadcasts NO vocabulary") {
    val qe = SparkEntry.queries("dedup_near")(spark, sf).queryExecution
    val opt = qe.optimizedPlan.toString
    assert(opt.contains("sortedintersectsize"), opt)
    // the old dictionary-encode path exploded every token and broadcast
    // the whole vocabulary (a hard ceiling at 100 TB corpora). The
    // xxhash64-id path has NO Generate stage and the only broadcast left
    // is the pair-join's own build side.
    val phys = qe.executedPlan.toString
    assert(!phys.contains("Generate"),
      s"dedup_near must not explode tokens through a dictionary join:\n$phys")
    val broadcasts = "BroadcastExchange".r.findAllIn(phys).length
    assert(broadcasts <= 1,
      s"only the pair-join build side may broadcast, got $broadcasts:\n$phys")
  }

  test("sim_ann_ivf assigns buckets as a shuffle-free projection, not a crossJoin+window") {
    // the ANN index itself (the declared query wraps it in a brute-force
    // invariant report, which legitimately contains a pair scan)
    val p = graft.api.SimilarityOps.ivfTopK(
        Tables.embeddings(spark, sf), "vec_id", "embedding",
        queryPred = org.apache.spark.sql.functions.col("vec_id") < 10,
        numSeeds = 8, k = 5)
      .queryExecution.executedPlan.toString
    // nearest-seed assignment = array_max over per-seed dot structs,
    // fused into the scan's codegen stage — the old shape was a
    // BroadcastNestedLoopJoin crossJoin followed by a row_number sort
    assert(p.contains("array_max"), s"assignment should be an array_max projection:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"no seed crossJoin may remain in the assignment path:\n$p")
  }

  test("sim_cosine_topk is scored by the exact kernel, not a nested-loop pair join") {
    // the kernel runs eagerly; the returned frame holds only the k rows
    val p = plan("sim_cosine_topk")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("join_asof is one keyed exchange + window, never a range join") {
    val p = plan("join_asof")
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"as-of must not pair-scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not explode candidate pairs:\n$p")
    // exactly one exchange of the unioned input on the join key
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected 1 keyed shuffle, got $shuffles:\n$p")
  }

  test("join_asof_nearest gets BOTH directions from one keyed exchange + one Window") {
    val p = plan("join_asof_nearest")
    // both directional picks must share the single Window operator over
    // the single union shuffle — the second direction costs no plan node
    val windows = "Window ".r.findAllIn(p).length
    assert(windows == 1, s"expected 1 Window operator, got $windows:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected 1 keyed shuffle, got $shuffles:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"nearest as-of must not explode candidate pairs:\n$p")
  }

  test("agg_topk_heap aggregates with k-bounded partials (partial_top_k before the shuffle)") {
    val p = plan("agg_topk_heap")
    // TypedImperativeAggregate plans as ObjectHashAggregate; the partial
    // phase must appear below the exchange so only k doubles per group
    // per map task cross the wire
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_top_k"), s"map-side partial aggregation missing:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected 1 keyed shuffle, got $shuffles:\n$p")
  }

  test("doc_interleave computes position arithmetically — no global single-partition window") {
    val p = plan("doc_interleave")
    // exactly ONE window (the per-source rank); the global position must
    // come from the broadcast-counts arithmetic, not row_number() over
    // an unpartitioned ordering (which single-partitions all data)
    val windows = "Window ".r.findAllIn(p).length
    assert(windows == 1, s"expected 1 per-source Window, got $windows:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"counts must broadcast:\n$p")
  }

  test("emb_neardup_lsh joins banded buckets, never all pairs") {
    // the LSH pair path itself (the declared query adds the exact tier
    // for its invariant report, which is an intentional pair scan)
    val p = graft.api.SimilarityOps.lshNearDupPairsAuto(
        Tables.embeddings(spark, sf), "vec_id", "embedding", threshold = 0.45)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH path must not contain an all-pairs join:\n$p")
    assert(p.toLowerCase.contains("dotproduct"), s"verify stage must use codegen dot:\n$p")
  }

  test("dedup_simhash buckets by signature bands, never all pairs") {
    val p = graft.api.DedupOps.simhashPairs(
        Tables.documents(spark, sf), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banded SimHash must not contain an all-pairs join:\n$p")
    assert(p.contains("bit_count"), s"Hamming verify must be bit_count(xor):\n$p")
  }

  test("topk_per_key plans as two-phase bounded heaps, no Window, no full Sort") {
    val df = SparkEntry.queries("topk_per_key")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // AQE prints the plan twice (Final + Initial), so expect the
    // partial/final pair in each rendering
    val partials = "TopKPerKey true".r.findAllIn(p).length
    val finals = "TopKPerKey false".r.findAllIn(p).length
    assert(partials >= 1 && finals >= 1 && partials == finals,
      s"expected partial+final TopKPerKeyExec pair, got $partials/$finals:\n$p")
    assert(!p.contains("Window"), s"row_number Window must be rewritten away:\n$p")
    // the only Sort allowed is the final presentation orderBy, which sits
    // ABOVE the top-k operator — the per-key sort below the filter is gone
    assert(!p.contains("RunningWindowFunction"), p)
  }

  test("tpch_q4's EXISTS is a keyed semi join, never a pair scan") {
    val p = plan("tpch_q4")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch_q21 folds the EXISTS/NOT-EXISTS double into one keyed aggregation") {
    val p = plan("tpch_q21")
    // r15: the two correlated existence probes are per-orderkey distinct
    // counts (n_all/n_late) — one aggregation, no shuffled anti join and
    // no full-width distinct Exchanges over the pair set
    assert(p.contains("LeftSemi"), p)
    // the old shape's existence probes are gone: no anti join and no
    // cartesian product (how Spark plans the multi-distinct aggregation
    // — Expand today — is the planner's choice, not pinned here)
    assert(!p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q17 and tpch_q22 broadcast their 1-row aggregate thresholds") {
    for (q <- Seq("tpch_q17", "tpch_q22")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
        s"$q must broadcast the scalar threshold:\n$p")
    }
  }

  test("sessionize_batch shares one keyed exchange across windows and agg") {
    val p = plan("sessionize_batch")
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyed == 1,
      s"lag window, running-sum window and groupBy must all reuse the single user_id shuffle; got $keyed:\n$p")
  }

  test("ts_gapfill broadcasts the generated spine against pre-aggregated facts") {
    val p = plan("ts_gapfill")
    // the fact side must be aggregated BEFORE the spine join (two
    // HashAggregates: partial+final), and the join must broadcast —
    // never shuffle the raw fact table against a calendar
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("ts_locf and doc_pack are single-keyed-exchange window passes") {
    for (q <- Seq("ts_locf", "doc_pack")) {
      val p = plan(q)
      val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(keyed == 1, s"$q must shuffle once on its partition key; got $keyed:\n$p")
    }
  }

  test("text_pii_scrub and doc_chunk stay shuffle-free before the output sort") {
    for (q <- Seq("text_pii_scrub", "doc_chunk")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q is row-local work; only the output rangepartitioning sort may shuffle:\n$p")
    }
  }

  test("sample_stratified prunes to min(20,g) before the exchange") {
    val p = plan("sample_stratified")
    // under GraftExtensions (the graded session) the idiomatic
    // row_number-filter rewrites to the two-phase bounded-heap
    // TopKPerKeyExec: the map-side partial caps each partition at 20
    // rows per segment BEFORE the shuffle — strictly better than the
    // WindowGroupLimit plan the un-extended planner produces
    assert(p.contains("TopKPerKey"),
      s"rank limit must rewrite to the bounded-heap operator:\n$p")
  }

  test("scan_partition_prune pushes the literal predicate to PartitionFilters") {
    val p = plan("scan_partition_prune")
    assert(p.contains("PartitionFilters: [isnotnull(o_orderpriority"),
      s"partition predicate must prune directories, not filter rows:\n$p")
    assert(p.contains("= 1-URGENT"), p)
  }

  test("sink_zorder read-back pushes both box predicates into the parquet scan") {
    // default metadata truncation (100 chars) cuts PushedFilters mid-list
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    val p = try plan("sink_zorder")
    finally spark.conf.set("spark.sql.maxMetadataStringLength", "100")
    assert(p.contains("GreaterThanOrEqual(l_partkey,0), LessThanOrEqual(l_partkey,39)"),
      s"partkey range must reach PushedFilters (row-group skipping):\n$p")
    assert(p.contains("GreaterThanOrEqual(l_suppkey,0), LessThanOrEqual(l_suppkey,3)"),
      s"suppkey range must reach PushedFilters (row-group skipping):\n$p")
  }

  test("join_dpp plants a dynamic pruning subquery on the fact scan") {
    val p = plan("join_dpp")
    assert(p.contains("dynamicpruning"),
      s"the dim filter must reach the fact scan as runtime partition pruning:\n$p")
  }

  test("join_bloom injects a runtime bloom filter on the probe side") {
    val df = SparkEntry.queries("join_bloom")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain"),
      s"probe side must be pre-filtered by the build-side bloom filter:\n$opt")
    // scoped planning confs must be restored for subsequent queries
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold") != "0")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1")
  }

  test("win_time_range is a single keyed exchange with a running range frame") {
    val p = plan("win_time_range")
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyed == 1, s"expected 1 user_id shuffle, got $keyed:\n$p")
    assert(p.contains("RangeFrame, -600000000"), p)
  }

  test("reshape_nested flattens through a generator, not a second shuffle") {
    val p = plan("reshape_nested")
    assert(p.contains("Generate inline"), s"flatten must be a generator:\n$p")
  }

  test("doc_tfidf broadcasts only the 1-row corpus count") {
    val p = plan("doc_tfidf")
    // the df (vocabulary) side must NOT be a broadcast build at scale —
    // at test scale AQE may still choose broadcast, so assert only that
    // the corpus-count crossJoin stays a 1-row broadcast nest and the
    // aggregation is two-phase
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("join_range_binned is an equi-join on (user, bin), not a theta pair scan") {
    val p = plan("join_range_binned")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"binned range join must stay an equi-join:\n$p")
    // the range predicate must ride the equi-join as a post-condition,
    // visible as join keys containing bin and user columns
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("whole-stage codegen covers the scan-agg hot path") {
    // AQE finalizes the physical plan lazily — execute first
    val df = SparkEntry.queries("agg_basic")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages render as "*(n) Operator" in the plan string
    assert(p.contains("*(1)"), p)
  }

  test("join_cbo_reorder: stats visible and CBO rotates the selective dim join to the bottom") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.functions.col
    val df = SparkEntry.queries("join_cbo_reorder")(spark, sf)
    val s = df.sparkSession // the CBO child session StatsQueries built
    // ANALYZE made row counts available to the optimizer (checked via
    // DESCRIBE — plan.stats from the test thread would read the
    // fixture session's conf, not the CBO session's)
    val statsLine = s.sql("DESCRIBE TABLE EXTENDED graft_stats_orders")
      .filter(col("col_name") === "Statistics").collect()
    assert(statsLine.nonEmpty && statsLine.head.getString(1).contains("rows"),
      s"orders rowCount stat missing: ${statsLine.mkString}")
    // the query is WRITTEN lineitem⋈orders first; with stats + join
    // reorder the bottom-most join must instead pair orders with the
    // filtered customer — i.e. its subtree must not touch lineitem
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    val bottom = joins.last // collect is pre-order; last = deepest join
    val bottomTables = bottom.collectLeaves().map(_.toString).mkString("\n")
    assert(!bottomTables.contains("graft_stats_lineitem"),
      s"CBO should join orders⋈σ(customer) first, got:\n$bottom")
    assert(bottomTables.contains("graft_stats_customer"), bottomTables)
  }

  test("tpch_q5 broadcasts every dimension side of the 6-table join") {
    val p = plan("tpch_q5")
    // supplier/nation/region (and the region filter through nation) must
    // all broadcast; the only real shuffle is the lineitem⋈orders backbone
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 3, s"expected >=3 broadcast joins, got $bhj:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q2 broadcasts the dims and keeps the min-join-back keyed") {
    val p = plan("tpch_q2")
    // europe suppliers and filtered parts broadcast; the lineitem unit
    // cost agg is the only big shuffle; the (part, min-cost) join-back
    // must be keyed, never a pair scan
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 2, s"expected >=2 broadcast dims, got $bhj:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q7 pushes the nation filters below broadcast joins") {
    val p = plan("tpch_q7")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 2, s"filtered supp/cust sides must broadcast, got $bhj:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the shipdate range must reach the lineitem scan
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }

  test("tpch_q16 anti-joins the denylist as a broadcast") {
    val p = plan("tpch_q16")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"denylist must be a broadcast anti-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_pagerank iterations are keyed joins, never pair scans") {
    val p = plan("graph_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop joins allowed are the 1-row broadcast crosses
    // that attach the node count N (the doc_tfidf pattern); every
    // edge-sized join must be keyed
    val bnlj = "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).length
    val anyBnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(anyBnlj == bnlj, s"non-cross nested loop join in PageRank:\n$p")
    val keyed = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).length
    assert(keyed >= 6, s"3 iterations x (pr, deg) joins must be keyed, got $keyed:\n$p")
  }

  test("doc_bm25 broadcasts df/stats and filters tf before its shuffle") {
    val p = plan("doc_bm25")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"df and corpus stats must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the query-term IN filter must run on the exploded tokens BEFORE the
    // (doc, tok) aggregate's exchange — shuffle volume ∝ matching rows
    val filterIdx = p.indexOf("vector")
    assert(filterIdx >= 0, s"query-term filter missing:\n$p")
  }

  test("text_contamination broadcasts the benchmark side, no self pair-scan") {
    val p = plan("text_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"small benchmark shingle set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probe must be a hash join on the shingle, not a pair scan:\n$p")
  }

  test("ts_ewma rides ONE keyed exchange: daily agg partitioning feeds the lag window") {
    // groupBy(user, day) hash-partitions on (user, day); the window
    // re-partitions on user — the agg's exchange plus the window's, and
    // not one per lag term (8 taps share a single Sort)
    val p = plan("ts_ewma")
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyed <= 2, s"expected agg + window exchanges only, got $keyed:\n$p")
    assert("Window".r.findAllIn(p).length <= 2, s"all lag taps must share one Window:\n$p")
  }

  test("win_rolling_regr shares one exchange+sort across rn and the rolling frame") {
    val p = plan("win_rolling_regr")
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyed == 1, s"both windows partition on o_custkey — one exchange, got $keyed:\n$p")
    val sorts = "\\[Sort ".r.findAllIn(p).length
    assert("Sort ".r.findAllIn(p).length <= 2, s"same ordering must reuse the sort:\n$p")
  }

  test("text_gopher_rules is one shuffle-free codegen projection") {
    val p = plan("text_gopher_rules")
    assert(!p.contains("Exchange hashpartitioning"),
      s"quality gate is row-local; only the output sort may shuffle:\n$p")
    // all four signals are built-in string/array expressions (no UDF), so
    // the projection stays codegen-eligible
    assert(!p.contains("BatchEvalPython") && !p.contains("UDF"), p)
  }

  test("win_running_distinct pays exactly its two keyed window exchanges") {
    val p = plan("win_running_distinct")
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyed == 2, s"(user,type) flag window + (user) running window, got $keyed:\n$p")
  }

  test("join_hint_shj honors the SHUFFLE_HASH hint (no sort-merge phase)") {
    val p = plan("join_hint_shj")
    assert(p.contains("ShuffledHashJoin"), s"hint must pick SHJ:\n$p")
    assert(!p.contains("SortMergeJoin"), s"SMJ despite hint:\n$p")
  }

  test("sim_ann_pq scores codes against a BROADCAST lookup table (ADC)") {
    val p = plan("sim_ann_pq")
    assert(p.contains("BroadcastHashJoin"),
      s"per-query lookup tables must broadcast against the code table:\n$p")
  }

  test("dedup_fuzzy compares within blocks on DISTINCT names, never a row pair scan") {
    val p = plan("dedup_fuzzy")
    // the Levenshtein comparisons must sit above a names-level aggregate
    // (vocabulary-bounded), with the block key as the join key
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocked fuzzy join must be an equi-join on blk:\n$p")
    assert(p.contains("HashAggregate"), s"distinct-names collapse missing:\n$p")
  }

  test("win_gap_islands is one distinct + one keyed window sort, no self-join") {
    val p = plan("win_gap_islands")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"islands must come from the row_number trick, not a neighbor join:\n$p")
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyed <= 2, s"distinct agg + custkey window only, got $keyed:\n$p")
  }

  test("ts_seasonal_naive shifts by equi-join on (type, day-7), not a theta scan") {
    val p = plan("ts_seasonal_naive")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"seasonal shift must be an equi-join:\n$p")
  }

  test("text_stopword_prune removes stopwords via a BROADCAST anti-join") {
    val p = plan("text_stopword_prune")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"the 20-token stop list must broadcast, not shuffle the token frame:\n$p")
  }

  test("plan_checkpoint truncates lineage to a materialized RDD scan") {
    val p = plan("plan_checkpoint")
    assert(p.contains("ExistingRDD"),
      s"post-checkpoint plan must read the materialized RDD, not re-derive the agg:\n$p")
    assert(!p.contains("HashAggregate"),
      s"the aggregate must NOT reappear above the checkpoint:\n$p")
  }

  test("join_aqe_skew's FINAL adaptive plan splits the hot partition (skew=true)") {
    // AQE re-plans at runtime, so this asserts on the executed plan
    // after an action — not the static explain the other tests use
    val df = SparkEntry.queries("join_aqe_skew")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"),
      s"hot partition must be split by the skew-join rule:\n${p.take(4000)}")
  }

  test("src_custom_v2 pushes the id range and the projection INTO the connector") {
    val p = plan("src_custom_v2")
    // the scan description carries the absorbed generator bounds: both
    // range predicates became source bounds, not post-scan filters
    assert(p.contains("lo=150000") && p.contains("hi=190000"),
      s"id-range must be absorbed into the source:\n$p")
    assert(p.contains("cols=id,val,cat") || p.contains("cols=cat,val,id") ||
      p.contains("cols=cat,id,val") || p.contains("cols=id,cat,val") ||
      p.contains("cols=val,id,cat") || p.contains("cols=val,cat,id"),
      s"projection must reach the reader:\n$p")
  }

  test("join_left_broadcast keeps the fact side unshuffled (BHJ LeftOuter)") {
    val p = plan("join_left_broadcast")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"dim must broadcast under the left-outer join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side must not shuffle for the join:\n$p")
  }

  test("agg_multi_distinct plans ONE Expand, not one scan per distinct clause") {
    val p = plan("agg_multi_distinct")
    assert("Expand".r.findAllIn(p).length >= 1, s"multi-distinct must Expand:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"three distincts must share one lineitem scan:\n$p")
  }

  test("scan_cached reads the cached dimension from memory in both branches") {
    val p = plan("scan_cached")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"both join branches must hit the cache:\n$p")
  }

  test("sim_mmr greedy tail is driver-held control plane: no distributed operators") {
    val p = plan("sim_mmr")
    // the corpus-sized work (scan + relevance + top-nCand) runs once at
    // construction and is collected; the greedy tail operates on the
    // nCand-row candidate set on the driver (the k-means-centroid
    // pattern). The returned frame must therefore be a local result —
    // any join or exchange here means an 8-row frame went distributed
    // (~10 scheduler-latency-bound jobs, the round-14 constant drift)
    assert(!p.contains("Join"), s"greedy tail must not join:\n$p")
    assert(!p.contains("Exchange") || p.contains("rangepartitioning(rank"),
      s"only the final rank sort may exchange:\n$p")
    assert(!p.contains("parquet"), s"no corpus re-scan in the result frame:\n$p")
  }

  test("feat_zscore broadcasts the 3-row moment table — the fact side never shuffles") {
    val p = plan("feat_zscore")
    assert(p.contains("BroadcastHashJoin"), s"moments must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"fact side must not shuffle for the join:\n$p")
    // no window operator: the groupBy+join shape replaced the
    // 3-giant-partition window
    assert(!p.contains("Window"), s"z-score must not use a window:\n$p")
  }

  test("feat_bucketize and feat_target_encode broadcast their global statistics") {
    for (q <- Seq("feat_bucketize", "feat_target_encode")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
        s"$q: the one-row statistic must broadcast:\n$p")
    }
  }

  test("sim_centroid_classify broadcasts the 10-row centroid table") {
    val p = plan("sim_centroid_classify")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroids must broadcast:\n$p")
  }

  test("text_bigram_logprob keeps the count-table joins map-side at test scale") {
    // At test scale the distinct-bigram tables fit the broadcast
    // threshold, so both joins should be map-side; at corpus scale the
    // broadcast hint would be dropped and a shuffle join on (w1,w2)/(w1)
    // is the legitimate fallback — so we assert the broadcast shape only
    // as "present", not "exclusively" (a partial SortMergeJoin fallback
    // is allowed, not a failure).
    val p = plan("text_bigram_logprob")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1,
      s"at test scale at least the c1 conditioning join must be map-side:\n$p")
  }

  test("sample_temperature: the per-source rate table broadcasts, keep is one hash") {
    val p = plan("sample_temperature")
    assert(p.contains("BroadcastHashJoin"), s"rate table must broadcast:\n$p")
    assert(p.contains("md5"), s"keep decision must be the codegen md5 threshold:\n$p")
  }

  test("sim_pair_hist_sampled pairs form inside hash groups — never a global BNLJ") {
    val p = plan("sim_pair_hist_sampled")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"sampled pair join must be an equi-join on the group key:\n$p")
  }

  test("dedup_containment_filtered candidates come from equi-joins, not a pair scan") {
    val p = plan("dedup_containment_filtered")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"prefix-filter candidates must be token-equality joins:\n$p")
  }

  test("de-quadratified declared reports carry no all-pairs join anywhere") {
    // round-13: the exact ground-truth spine of every scale-tier report
    // is the md5-group pair sample — the whole DECLARED plan must be
    // equi-joins (group key, token hash, band bucket, id attach), with
    // the only cross joins the 1-row report-assembly crossJoins
    for (k <- Seq("dedup_pipeline", "dedup_minhash", "emb_neardup_lsh",
        "dedup_semantic")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct"),
        s"$k declared plan must not scan all pairs:\n$p")
      // BroadcastNestedLoopJoin appears only for the single-row
      // report-assembly crossJoins (constant-sized inputs), never
      // joining two corpus-sized frames — pin that by bounding the
      // count to the report keys that assemble scalars
      if (k == "dedup_pipeline")
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$k emits the sampled pair list — no BNLJ at all:\n$p")
    }
  }

  test("mm_frame_sample generates frame rows partition-locally (Generate, no extra shuffle)") {
    val qe = SparkEntry.queries("mm_frame_sample")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("Generate"), s"frame expansion must be a Generate:\n$p")
    // the only Exchange allowed is the final orderBy's range partitioning
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"frame sampling must not shuffle payloads:\n$p")
  }

  test("join_scd2_asof broadcasts the SCD2 dimension; the fact side never shuffles it") {
    val p = plan("join_scd2_asof")
    assert(p.contains("BroadcastHashJoin"),
      s"the customer-sized dimension must broadcast, interval as residual:\n$p")
  }

  test("sample_two_stage stage-1 selection is a parallel top-k, not a global window") {
    val p = plan("sample_two_stage")
    assert(p.contains("TakeOrderedAndProject"),
      s"stage 1 must plan as TakeOrderedAndProject:\n$p")
    assert(!p.contains("Window [row_number() windowspecdefinition()"),
      s"no unpartitioned row_number window in stage 1:\n$p")
  }

  test("events_rolling_distinct explodes to equi-shuffles — no range join anywhere") {
    val p = plan("events_rolling_distinct")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the 7-day expansion must stay an equi-join:\n$p")
  }

  test("text_dsir and text_kn_bigram keep their count tables broadcast at test scale") {
    Seq("text_dsir", "text_kn_bigram", "text_kn_bigram_hashed").foreach { k =>
      val p = plan(k)
      assert(p.contains("BroadcastHashJoin"),
        s"$k score/count tables are bucket/vocabulary-bounded — broadcast:\n$p")
    }
  }

  // ---- round-14 shapes ----

  test("sim_ann_graph search never scans all pairs; adjacency joins are equi-joins") {
    val p = plan("sim_ann_graph")
    assert(!p.contains("CartesianProduct"),
      s"graph ANN must not contain an all-pairs scan:\n$p")
    assert(p.toLowerCase.contains("dotproduct"),
      s"scoring must use the codegen dot:\n$p")
  }

  test("dedup_components_lsh declared plan carries no all-pairs join (sampled spine)") {
    val p = plan("dedup_components_lsh")
    assert(!p.contains("CartesianProduct"),
      s"sampled exact spine must be a group-key equi-join:\n$p")
  }

  test("round-14 stat/sample reports broadcast their control-plane tables") {
    for (k <- Seq("agg_theil", "ts_mad_anomaly", "stat_levene",
        "text_js_divergence", "ts_weekday_strength")) {
      val p = plan(k)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"$k: group-level statistics must broadcast back over the scan:\n$p")
      assert(!p.contains("CartesianProduct"), s"$k: no all-pairs scan:\n$p")
    }
  }

  test("ts_naive_mape and stat_mann_kendall pair days via equi-join on the type key") {
    for (k <- Seq("ts_naive_mape", "stat_mann_kendall")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct"),
        s"$k: day pairing must shuffle on event_type, not scan all pairs:\n$p")
    }
  }

  test("dedup_soft_weights and text_ngram_novelty stay equi-joined on the shingle key") {
    for (k <- Seq("dedup_soft_weights", "text_ngram_novelty")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$k: shingle/bigram joins must be hash equi-joins:\n$p")
    }
  }

  test("pipeline_corpus_build: no all-pairs joins, no single-partition funnels") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    import org.apache.spark.sql.catalyst.plans.Cross
    val qe = SparkEntry.queries("pipeline_corpus_build")(spark, sf).queryExecution
    // every corpus-sized join must be an equi-join: the only permitted
    // cross joins are the 1-row funnel/total broadcasts (an Aggregate
    // with no grouping keys on at least one side)
    val crosses = qe.optimizedPlan.collect {
      case j: Join if j.joinType == Cross && j.condition.isEmpty => j
    }
    crosses.foreach { j =>
      val oneRowSide = Seq(j.left, j.right).exists(_.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.isEmpty => a
      }.isDefined)
      assert(oneRowSide, s"cross join without a 1-row aggregate side:\n$j")
    }
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"all-pairs scan:\n$p")
    // every window must be partitioned (the pack cumsum runs per shard;
    // an empty partitionSpec = the whole corpus through one task)
    val windows = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "pack stage must use a window")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window (single-partition funnel):\n$w"))
  }

  test("round-15 batches: no all-pairs scans anywhere") {
    // every pair-forming operator must pair inside hash groups (md5
    // prefix / token / grp equi-joins) or calendar-bounded frames —
    // never a CartesianProduct over the corpus
    Seq("dedup_lsh_curve", "dedup_shingle_profile", "emb_hubness_sampled",
      "text_tfidf_top", "text_yule_k", "text_source_overlap",
      "stat_kendall_tau", "events_bounce_rate", "events_retention_matrix",
      "events_session_duration", "agg_weighted_median",
      "events_activity_concentration", "stat_cvm_twosample",
      "graph_avg_neighbor_degree", "graph_degree_gini").foreach { k =>
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k: all-pairs scan:\n$p")
    }
  }

  test("round-15 session/user windows are partitioned; value-domain windows sit over grouped domains") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // user-keyed session spines: every window partitions on the user
    Seq("events_bounce_rate", "events_session_duration").foreach { k =>
      val qe = SparkEntry.queries(k)(spark, sf).queryExecution
      val ws = qe.optimizedPlan.collect { case w: LWindow => w }
      assert(ws.nonEmpty, s"$k: expected a window")
      ws.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$k: unpartitioned window (single-partition funnel):\n$w"))
    }
    // bounded-VALUE-domain cumulatives: an unpartitioned window is only
    // legal over a value-grouped Aggregate (the domain, not the corpus)
    Seq("stat_cvm_twosample", "events_activity_concentration",
      "graph_degree_gini", "stat_kruskal_wallis").foreach { k =>
      val qe = SparkEntry.queries(k)(spark, sf).queryExecution
      qe.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.foreach { w =>
        val grouped = w.child.collectFirst {
          case a: Aggregate if a.groupingExpressions.nonEmpty => a
        }.isDefined
        assert(grouped,
          s"$k: unpartitioned window not over a grouped value domain:\n$w")
      }
    }
  }

  test("sim_ann_graph_staged stages the adjacency once under the fingerprinted path") {
    // the beam-search lineage is localCheckpoint-truncated, so the
    // staged scan cannot appear in the report's final plan — pin the
    // staging discipline itself: invoking the declared query must leave
    // a non-empty fingerprinted adjacency parquet behind, which every
    // later invocation (and the bench) reads instead of rebuilding
    val p = plan("sim_ann_graph_staged")
    assert(!p.contains("CartesianProduct"), s"all-pairs scan:\n$p")
    val src = java.nio.file.Paths.get(sf, "embeddings.parquet")
    val fp = s"${java.nio.file.Files.size(src)}_" +
      s"${java.nio.file.Files.getLastModifiedTime(src).toMillis}"
    val hash = Integer.toHexString(sf.hashCode)
    val path = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_annadj_${hash}_$fp")
    assert(java.nio.file.Files.exists(path.resolve("_SUCCESS")),
      s"staged adjacency missing at $path")
    assert(spark.read.parquet(path.toString).count() > 0,
      "staged adjacency is empty")
  }
}
