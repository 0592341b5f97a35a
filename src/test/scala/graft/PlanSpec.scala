package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.operators.Queries

/** Physical-plan assertions: the properties that make these operators
  * survive a 100x scale-up are locked in here so a refactor can't
  * silently regress them (filter/projection pushdown to the parquet
  * scan, broadcast for dimension joins, TakeOrderedAndProject for
  * top-K instead of a global sort).
  */
class PlanSpec extends SparkSpec {

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  test("q02 pushes filter and projection into the parquet scan") {
    val p = planString(Queries.q02FilterProject(spark, sf0001))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("GreaterThan(l_quantity"), p)
    // only the 5 needed columns are read
    assert(!p.contains("l_tax"), "projection must prune unused columns")
  }

  test("q06 dimension joins broadcast (no shuffle for nation/region)") {
    val p = planString(Queries.q06BroadcastLookup(spark, sf0001))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), "dim join must not sort-merge")
  }

  test("q11 top-K compiles to TakeOrderedAndProject (no global sort)") {
    val p = planString(Queries.q11TopK(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01 aggregation is partial (map-side) then final") {
    val p = planString(Queries.q01PricingSummary(spark, sf0001))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), "partial aggregation expected:\n" + p)
  }

  test("q13 availability count reads no data columns (count pushdown shape)") {
    val p = planString(Queries.q13Availability(spark, sf0001))
    // only the filter column is materialized from the scan
    assert(p.contains("l_shipdate"), p)
    assert(!p.contains("l_extendedprice"), p)
  }

  test("q03 forces no broadcast: scaling tables are left to AQE") {
    // customer scales with the data (the SEC `sub` analogue grows per
    // quarter) — a forced broadcast would OOM at 100x. Only
    // fixed-cardinality dims may carry hints.
    val lp = Queries.q03ServingStatementQuery(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(!lp.contains("ResolvedHint"), lp.take(1500))
    // dims (nation/region-class) keep their explicit broadcast in q06
    val q06 = Queries.q06BroadcastLookup(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(q06.contains("hints=[broadcast]") || planString(
      Queries.q06BroadcastLookup(spark, sf0001)).contains("BroadcastHashJoin"))
  }

  test("q38 salted join distributes each key over salt sub-keys") {
    val p = planString(Queries.q38SaltedJoin(spark, sf0001))
    assert(p.contains("__salt") || p.contains("pmod"), p.take(2000))
  }

  test("q41 as-of join plans exactly one shuffle before the output sort") {
    val p = planString(graft.operators.Extensions.q41AsOfJoin(spark, sf0001))
    // exactly: the purchase-dedup window's (user, ts) exchange, the
    // as-of window's (user) exchange, and the final orderBy range
    // exchange — the as-of itself adds ONE shuffle and no join
    // operator at all (a theta-join formulation would nested-loop)
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllIn(p).toSeq
    assert(exchanges.length == 3, s"expected 3 exchanges:\n${p.take(1200)}")
    assert(!p.contains("Join"), "as-of composes windows, not a join")
  }

  test("q46 sessionization shares one user_id exchange across windows and agg") {
    val p = planString(SparkEntry.queries("q46_sessionize")(spark, sf0001))
    // the gap window, the running-sum window, and the session
    // aggregation all cluster by user_id: exactly one hash exchange
    // plus the output sort's range exchange
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).toSeq
    assert(hashEx.length == 1, s"expected 1 hash exchange:\n${p.take(1200)}")
  }

  test("q50 rollup plans one Expand + one aggregation pass") {
    val p = planString(SparkEntry.queries("q50_rollup")(spark, sf0001))
    assert(p.contains("Expand"), "rollup must plan via Expand:\n" + p.take(800))
    val scans = "Scan parquet".r.findAllIn(p).toSeq
    assert(scans.length == 1, "subtotals must not re-scan the input")
  }

  test("q47 tf-idf broadcasts the corpus-size scalar (no cartesian)") {
    val p = planString(SparkEntry.queries("q47_tfidf")(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "1-row corpus-size join must broadcast:\n" + p.take(800))
  }

  test("q42 range join stays an equi-join (no nested loop)") {
    val p = planString(graft.operators.Extensions.q42RangeJoin(spark, sf0001))
    assert(!p.contains("NestedLoopJoin"),
      "bucketed range join must plan as an equi-join:\n" + p.take(1200))
  }

  test("minhash sketch aggregate plans as ObjectHashAggregate") {
    graft.functions.SketchFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val df = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), xxhash64(col("text")).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.SketchFunctions.minHashSig(col("h"), 8))
    val p = planString(df)
    assert(p.contains("ObjectHashAggregate"), p.take(1200))
    assert(p.contains("partial_"), "map-side partial expected:\n" + p.take(1200))
  }

  test("sketch spread is widen-only: a wide input plans no extra Exchange") {
    import graft.operators.Partitioning
    // Already at/above defaultParallelism (4 in tests): pass-through,
    // so by construction no round-robin Exchange is added to the plan.
    val wide = spark.range(1000).toDF("doc_id").repartition(8)
    val spreadWide = Partitioning.spread(wide)
    assert(spreadWide eq wide,
      "an input at or above defaultParallelism must pass through untouched")
    val exBefore = "Exchange".r
      .findAllIn(wide.queryExecution.executedPlan.toString).size
    val exAfter = "Exchange".r
      .findAllIn(spreadWide.queryExecution.executedPlan.toString).size
    assert(exAfter == exBefore, "spread must not add an Exchange")
    // Narrow input (one partition): widened to the core count.
    val narrow = spark.range(100).toDF("doc_id").coalesce(1)
    assert(Partitioning.spread(narrow).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("q59 stratified sample: rate table broadcasts, filter is scan-side") {
    val p = planString(
      SparkEntry.queries("q59_stratified_sample")(spark, sf0001))
    // both small sides (min-count scalar and the per-lang rate table)
    // must broadcast — a sort-merge join would shuffle the corpus to
    // apply a 5-row rate table
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "rate attach must not shuffle the corpus:\n" + p.take(1500))
  }

  test("q60 mixing weights: totals broadcast, no cartesian blowup") {
    val p = planString(
      SparkEntry.queries("q60_mixing_weights")(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "1-row totals join must broadcast:\n" + p.take(1200))
  }

  test("q63 funnel plans one corpus shuffle (single groupBy, no join cascade)") {
    val p = planString(SparkEntry.queries("q63_funnel")(spark, sf0001))
    assert(!p.contains("Join"),
      "funnel recurrence must be array arithmetic, not per-stage joins")
    // the user_id aggregation's exchange + the trivial final-agg /
    // output exchanges; the corpus-sized one is exactly the first
    val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).toSeq
    assert(hashEx.length == 1,
      s"expected exactly 1 user_id exchange:\n${p.take(1500)}")
  }

  test("q64 cube plans one Expand + a single scan") {
    val p = planString(SparkEntry.queries("q64_cube")(spark, sf0001))
    assert(p.contains("Expand"), "cube must plan via Expand:\n" + p.take(800))
    val scans = "Scan parquet".r.findAllIn(p).toSeq
    assert(scans.length == 1, "grouping sets must not re-scan the input")
  }

  test("q62 edit blocking: hot-block cap is an anti-join, pairs an equi-join") {
    val p = planString(SparkEntry.queries("q62_edit_blocked")(spark, sf0001))
    assert(p.contains("LeftAnti"),
      "hot-block cap must plan as an anti-join:\n" + p.take(1500))
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      "pair generation must stay an equi-join on blk:\n" + p.take(1500))
  }

  test("q67 exact sample compiles to TakeOrderedAndProject (no global sort)") {
    val p = planString(SparkEntry.queries("q67_exact_sample")(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"),
      "hash-ordered top-k must not plan a global sort:\n" + p.take(1200))
  }

  test("q68 vocab: top-V selection is TakeOrderedAndProject, agg partial") {
    val p = planString(graft.operators.TextAnalysis.vocabQuery(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"),
      "vocab top-V must not globally sort the term table:\n" + p.take(1500))
    assert(p.contains("partial_"),
      "term counting must map-side combine:\n" + p.take(1500))
  }

  test("q69 winnow pairs: hot-fp cap is an anti-join, pairs an equi-join") {
    val p = planString(SparkEntry.queries("q69_winnow_pairs")(spark, sf0001))
    assert(p.contains("LeftAnti"),
      "hot-fingerprint cap must plan as an anti-join:\n" + p.take(1500))
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      "pair generation must stay an equi-join on fp:\n" + p.take(1500))
  }

  test("q70 length trim: cutoff table broadcasts back to the corpus") {
    val p = planString(SparkEntry.queries("q70_length_trim")(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      "per-lang cutoffs must broadcast, not shuffle the corpus:\n" + p.take(1500))
  }

  test("q71 span dedup: no pair join, dup filter precedes the re-join") {
    val p = planString(SparkEntry.queries("q71_span_dedup")(spark, sf0001))
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      "span dedup must never plan a pair join:\n" + p.take(1500))
    // the span_df >= 2 prune must sit on the aggregate, before the join
    assert(p.contains("(span_df") || p.contains("span_df#"),
      "df filter expected in plan:\n" + p.take(1500))
  }

  test("q72 vocab coverage: vocab joins back by broadcast") {
    val p = planString(SparkEntry.queries("q72_vocab_coverage")(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      "bounded vocab must broadcast to the token stream:\n" + p.take(1500))
  }

  test("q73 embed decontam: eval side broadcasts, corpus scanned once") {
    val p = planString(SparkEntry.queries("q73_embed_decontam")(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "eval set must broadcast:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "corpus must not shuffle for the eval join:\n" + p.take(1500))
  }

  test("q75 outlier fences: fence table broadcasts back to events") {
    val p = planString(SparkEntry.queries("q75_outlier_fences")(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      "per-type fences must broadcast, not shuffle events:\n" + p.take(1500))
  }

  test("q76 posting lists: df band filters before the collect join") {
    val p = planString(SparkEntry.queries("q76_posting_lists")(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // band predicate pushed onto the df aggregate's output
    assert(p.contains("(df#") || p.contains("df#"),
      "df band filter expected:\n" + p.take(1500))
    assert(p.contains("partial_"),
      "df counting must map-side combine:\n" + p.take(1500))
  }

  test("q78 containment: hot cap is an anti-join, pairs an equi-join") {
    val p = planString(SparkEntry.queries("q78_containment")(spark, sf0001))
    assert(p.contains("LeftAnti"),
      "hot-shingle cap must plan as an anti-join:\n" + p.take(1500))
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      "pair generation must stay an equi-join:\n" + p.take(1500))
  }

  test("q79 concurrency: block offsets broadcast, corpus never globally sorted") {
    val p = planString(SparkEntry.queries("q79_concurrency")(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      "hour-block offsets must broadcast back:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q80 retention: both aggregations keyed on user_id, partial combine") {
    val p = planString(SparkEntry.queries("q80_retention")(spark, sf0001))
    assert(p.contains("partial_"),
      "cohort build must map-side combine:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // Spark's InjectRuntimeFilter: a selective filter on one join side
    // plants a bloom filter into the OTHER side's scan — at scale this
    // is shuffle-volume elision for free, so lock in that our plans
    // remain eligible (equi-join, no hint in the way). Thresholds are
    // tuned down because the fixture is KBs, not the 10 GB default.
    val conf = spark.conf
    val prev = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = graft.sources.Tables.orders(spark, sf0001)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val li = graft.sources.Tables.lineitem(spark, sf0001)
      val j = li.join(orders,
        li("l_orderkey") === orders("o_orderkey"))
      val lp = j.queryExecution.optimizedPlan.toString
      assert(lp.contains("might_contain") || lp.contains("BloomFilter"),
        "runtime bloom filter must inject into the probe side:\n" + lp.take(2000))
    } finally prev.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("whole-stage codegen covers the extension projections (no UDFs)") {
    val df = graft.operators.TextAnalysis.qualityQuery(spark, sf0001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen"), p.take(2000))
    assert(!p.toLowerCase.contains("batchevalpython"), p.take(2000))
  }

  test("temporal join plans on the entity equi-key, never a nested loop") {
    // the scaladoc's scale claim: the SCD2 range predicates ride the
    // user_id equi-join; a BroadcastNestedLoopJoin/CartesianProduct
    // here would be quadratic at corpus scale
    val p = graft.operators.OlapOps.temporalJoinQuery(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "range predicates must ride the equi-join:\n" + p.take(1500))
  }

  test("session paths reuse one user shuffle for sessions and collect") {
    // window (lag+sum) and the per-session groupBy share the user_id
    // partitioning; only the path-count agg adds a second hash exchange
    val p = graft.operators.Sessionize.sessionPathsQuery(spark, sf0001)
      .queryExecution.executedPlan.toString
    val userEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userEx == 1,
      s"session assignment and collect must share one user_id exchange, got $userEx:\n" +
        p.take(1500))
  }

  test("RFM and Pareto avoid unpartitioned fact-table windows") {
    // both use the blocked two-phase rank; the only Window.orderBy
    // without a partition key must be over block/offset tables, which
    // plan as SinglePartition over already-aggregated (tiny) inputs —
    // no fact-sized global sort may appear
    for (df <- Seq(graft.operators.OlapOps.rfmQuery(spark, sf0001),
      graft.operators.OlapOps.paretoQuery(spark, sf0001))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), p.take(1200))
      // global-sort smell: a rangepartitioning exchange feeding a
      // Window (vs the final output orderBy) would mean a corpus sort
      val windowSorts = "Exchange rangepartitioning".r.findAllIn(p).size
      assert(windowSorts <= 1,
        s"at most the output orderBy may range-partition, got $windowSorts:\n" +
          p.take(1500))
    }
  }

  test("q159 six-table join: dims broadcast, facts never cartesian") {
    val df = Queries.q159RevenueByNation(spark, sf0001)
    val p = planString(df)
    // region/nation pair must come in as a broadcast, not a shuffle
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "every join has an equi-key; a nested loop means a lost predicate:\n"
        + p.take(1500))
    // the year filter must sit BELOW every join (scan-side): in the
    // optimized logical plan's parent-first rendering, a scan-side
    // filter prints after even the DEEPEST Join node
    // probe for the FILTER EXPRESSION, not the bare year: attribute
    // ids render as #119966L etc., so "1996" alone starts matching
    // exprIds once the session's global counter passes 119,660 — a
    // position-21 hit in a 45-suite run was this test's own bug
    val lp = df.queryExecution.optimizedPlan.toString
    val yearProbe = "= 1996"
    assert(lp.contains(yearProbe) && lp.contains("Join"), lp.take(1500))
    assert(lp.indexOf(yearProbe) > lp.lastIndexOf("Join"),
      "year filter must be pushed beneath all joins:\n" + lp.take(1500))
  }

  test("attribution queries: keyed windows only, one output sort") {
    for (df <- Seq(
      graft.operators.Sessionize.attributionQuery(spark, sf0001),
      graft.operators.Sessionize.lastTouchQuery(spark, sf0001))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), p.take(1200))
      // the session windows hash-partition by user; only the final
      // output orderBy may range-partition
      val sorts = "Exchange rangepartitioning".r.findAllIn(p).size
      assert(sorts <= 1,
        s"only the output orderBy may range-partition, got $sorts:\n" +
          p.take(1500))
    }
  }

  test("q152 register build is map-side combined (partial max)") {
    val p = planString(
      graft.operators.DistinctSketch.hllRegistersQuery(spark, sf0001))
    assert(p.contains("partial_max"),
      "registers must combine map-side before the shuffle:\n" + p.take(1500))
  }

  test("q153 bloom test is scan-side arithmetic; truth join broadcasts") {
    val p = planString(
      graft.operators.JoinStrategies.bloomPruneQuery(spark, sf0001))
    // the filter is literal-array bit arithmetic in a projection —
    // present in the plan, with no sort-merge join anywhere (the only
    // join is the broadcast truth lookup for the report's baseline)
    assert(p.contains("shiftright"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "the pruned path must not shuffle the fact table:\n" + p.take(1500))
  }

  test("q167 membership filter: top-K side is TakeOrdered and broadcasts") {
    val p = planString(SparkEntry.queries("q167_membership_topk")(spark, sf0001))
    // the ≤10-row top-K frame must drive a broadcast LEFT SEMI against
    // the fact table — a shuffled semi would move the whole fact for a
    // ten-row filter at 100x scale
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "top-K membership must broadcast the tiny side:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q168 top/bottom-K: both limbs TakeOrdered, no global sort of facts") {
    val p = planString(SparkEntry.queries("q168_top_bottom_k")(spark, sf0001))
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      "each limb must be a top-K, not a full sort:\n" + p.take(1500))
    // the only full sort allowed is the 10-row output ordering
    assert("Exchange rangepartitioning".r.findAllIn(p).length <= 1,
      p.take(1500))
  }

  test("q166 flatten view generates in-line (no shuffle before explode)") {
    val p = planString(SparkEntry.queries("q166_flatten_view")(spark, sf0001))
    assert(p.contains("Generate explode"), p.take(1500))
    // explode is a narrow op over the scan: the single exchange is the
    // final output ordering, nothing re-partitions the corpus first
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      "no hash shuffle belongs in a pure flatten:\n" + p.take(1500))
  }

  test("q248 VARIANT flatten equals the typed route row-for-row, " +
    "and path access adds no shuffle over q166's plan") {
    val typed = SparkEntry.queries("q166_flatten_view")(spark, sf0001)
    val untyped = SparkEntry.queries("q248_variant_flatten")(spark, sf0001)
    assert(typed.collect().toSeq == untyped.collect().toSeq,
      "the untyped VARIANT route must lose nothing vs the struct route")
    val p = planString(untyped)
    assert(p.contains("Generate explode"), p.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      "variant_get is a scan-side projection, not a shuffle:\n" +
        p.take(1500))
  }

  /** File scans of `table` reachable from the query's executed plan —
    * the PlanAudit counter, inline so the graph locks below can pin
    * "the fact table is read N times" against a refactor. */
  private def tableScans(df: DataFrame, table: String): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def walk(plan: SparkPlan): Seq[String] = (plan.collect {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.getName)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    }).flatten
    walk(df.queryExecution.executedPlan).count(_.startsWith(table))
  }

  test("q100 pagerank: iteration is equi-join only, edges materialized once") {
    val df = graft.operators.GraphRank.pageRankQuery(spark, sf0001)
    val p = planString(df)
    // the superstep is ranks⋈deg + dir⋈contrib + a keyed groupBy — a
    // cartesian or nested-loop anywhere in the rank iteration is
    // O(|V|²) at scale and must never appear
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "rank iteration must stay equi-join:\n" + p.take(1500))
    // the adjacency (dir/deg) is localCheckpointed before the loop, so
    // the final plan re-reads the MATERIALIZED edge table, not events:
    // zero fact-table scans downstream of the edge build
    assert(tableScans(df, "events") == 0,
      "edges must be materialized once, not rebuilt from events per round")
  }

  test("q162 ppr: seeded iteration equi-join only, one events read via cells") {
    val df = graft.operators.GraphRank.pprQuery(spark, sf0001)
    val p = planString(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "ppr iteration must stay equi-join:\n" + p.take(1500))
    // seeds and edges both branch off the checkpointed cells frame —
    // the final plan must not return to the fact table at all
    assert(tableScans(df, "events") == 0,
      "seeds/edges must come from the materialized cells table")
  }

  test("q160 daily registers build is map-side combined (partial max)") {
    val p = planString(
      graft.operators.DistinctSketch.dailyRegistersQuery(spark, sf0001))
    // the per-day register table must combine map-side before its
    // shuffle (the q152 lock, extended to the daily/windowed variant
    // restored after the events-encoding break)
    assert(p.contains("partial_max"),
      "daily registers must combine map-side before the shuffle:\n" +
        p.take(1500))
  }

  test("q182 quantile sketch: sample membership filters at the scan, " +
    "estimates broadcast, true-rank agg partial") {
    val p = planString(
      graft.operators.QuantileSketch.quantileSketchQuery(spark, sf0001))
    // the 1/sampleMod hash predicate must evaluate in the scan's
    // filter (pre-shuffle), not after the window — at 100 TB that is
    // the difference between sorting the sample and sorting the corpus
    assert(p.contains("pmod"), "sample filter must precede the window:\n" +
      p.take(1500))
    // the |types|×|probes| estimate table joins the full scan by
    // broadcast; a shuffle of events keyed by event_type would be a
    // skew hazard (few types) and is never needed
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("partial_sum"),
      "true-rank counting must combine map-side:\n" + p.take(1500))
  }

  test("q184/q185 ranking metrics: one corpus aggregation, windows " +
    "only over the score histogram") {
    for (df <- Seq(graft.operators.ModelEval.aucQuery(spark, sf0001),
                   graft.operators.ModelEval.rocCurveQuery(spark, sf0001))) {
      val p = planString(df)
      // exactly one scan of embeddings: both metrics derive from the
      // single groupBy(score) histogram
      assert(tableScans(df, "embeddings") == 1,
        "ranking metrics must scan embeddings exactly once:\n" + p.take(1500))
      assert(p.contains("partial_"),
        "histogram build must combine map-side:\n" + p.take(1500))
      assert(!p.contains("CartesianProduct"), p.take(1500))
    }
  }

  test("q194 kcore peel: equi-joins only, nothing cartesian") {
    val p = planString(
      graft.operators.GraphTopology.kcoreQuery(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the peel must stay equi-join:\n" + p.take(1500))
  }

  test("q195 sliding registers: window merge reads the register " +
    "table, events scanned exactly twice") {
    val df = graft.operators.DistinctSketch
      .slidingRegistersQuery(spark, sf0001)
    // one scan feeds the daily registers (checkpointed), one the
    // exact-baseline pair table; the 7-way fan-out happens on those
    // derived frames, never on a third read of the corpus
    assert(tableScans(df, "events") <= 2,
      "sliding windows must derive from partials, not rescans")
  }

  test("q196/q197: bounds and offsets broadcast back, aggregation " +
    "partial") {
    for (df <- Seq(
        graft.operators.OlapOps.weightedQuantilesQuery(spark, sf0001),
        graft.operators.OlapOps.winsorizedMeanQuery(spark, sf0001))) {
      val p = planString(df)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"), p.take(1500))
      assert(p.contains("partial_"), p.take(1500))
      assert(!p.contains("CartesianProduct"), p.take(1500))
    }
  }

  test("q201/q203/q204/q205: scan-side prefilter, broadcast pair " +
    "frames, exploded drift aggregation partial") {
    // q201: the trigram prefilter must be pure scan arithmetic — no
    // shuffle before the final ordering (the 15x regression shape was
    // an explode + aggregate)
    val p201 = planString(
      graft.operators.CorpusStats.trigramLikeQuery(spark, sf0001))
    assert(!p201.contains("HashAggregate"),
      "trigram prefilter must not aggregate:\n" + p201.take(1200))
    // q203: the exhaustive pair frame is the documented verification
    // baseline — the corpus side must BROADCAST (a shuffled
    // CartesianProduct would repartition both sides)
    val p203 = planString(
      graft.operators.Similarity.labelNoiseQuery(spark, sf0001))
    assert(p203.contains("BroadcastNestedLoopJoin"), p203.take(1200))
    assert(!p203.contains("CartesianProduct"), p203.take(1200))
    // q204 materializes the pair frame once (checkpoint) — its final
    // plan must join the two per-anchor extremes by EQUI-join and
    // never rebuild the cross product
    val p204 = planString(
      graft.operators.Similarity.hardNegativesQuery(spark, sf0001))
    assert(!p204.contains("CartesianProduct") &&
      !p204.contains("BroadcastNestedLoopJoin"),
      "q204 must reuse the materialized pairs, not re-cross:\n" +
        p204.take(1200))
    // q205: the (label, snap, dim) sums must combine map-side
    val p205 = planString(
      graft.operators.Similarity.centroidDriftQuery(spark, sf0001))
    assert(p205.contains("partial_sum"), p205.take(1200))
  }

  test("q215/q216: sketch-cube aggregations combine map-side; the " +
    "ADC scan joins codes to a broadcast LUT, never a cross product") {
    val p215 = planString(
      graft.operators.DistinctSketch.rollupRegistersQuery(spark, sf0001))
    assert(p215.contains("partial_max") || p215.contains("partial_"),
      p215.take(1500))
    assert(!p215.contains("CartesianProduct"), p215.take(1500))
    val p216 = planString(
      graft.operators.ProductQuant.pqTopKQuery(spark, sf0001))
    assert(p216.contains("BroadcastHashJoin"), p216.take(1500))
    assert(!p216.contains("CartesianProduct") &&
      !p216.contains("SortMergeJoin"),
      "ADC must join through broadcasts only:\n" + p216.take(1500))
    // q219 composes three index scans — still no cross product on data
    val p219 = planString(
      graft.operators.Similarity.rankFusionQuery(spark, sf0001))
    assert(!p219.contains("CartesianProduct"), p219.take(1500))
  }

  test("q222/q225: contamination probes via a gram SEMI-join; the " +
    "ppjoin prefix window is doc-keyed and nothing goes cartesian") {
    val p222 = planString(
      graft.operators.CorpusStats.contaminationQuery(spark, sf0001))
    assert(p222.contains("LeftSemi"), p222.take(1500))
    assert(!p222.contains("CartesianProduct"), p222.take(1500))
    val p225 = planString(graft.operators.Dedup.ppjoinPairs(
      graft.sources.Tables.documents(spark, sf0001)))
    assert(!p225.contains("CartesianProduct"), p225.take(1500))
    assert(!p225.contains("BroadcastNestedLoopJoin"), p225.take(1500))
    // the prefix-rank window must be keyed on doc_id, never global
    assert(!p225.contains("Window [") ||
      !p225.contains("No Partition Defined"), p225.take(1500))
  }

  test("q224/q228: pair-set algebra and the truncation report keep " +
    "data joins keyed; only tiny summary/query frames attach by " +
    "broadcast") {
    val p224 = planString(
      SparkEntry.queries("q224_dedup_agreement")(spark, sf0001))
    assert(!p224.contains("CartesianProduct"), p224.take(1500))
    val p228 = planString(
      graft.operators.Similarity.truncationRecallQuery(spark, sf0001))
    // (the ranked stage is localCheckpointed, so its window sits
    // behind the scan — only the summary algebra is visible here)
    assert(!p228.contains("CartesianProduct"), p228.take(1500))
  }

  test("q210/q211: the blocked kNN path shuffles on bucket — no " +
    "corpus broadcast, no cross product") {
    // the whole point of the blocking: the candidate join is an
    // EQUI-join on the bucket key, so at 100 TB it shuffles instead
    // of broadcasting the corpus (q203's BroadcastNestedLoopJoin is
    // the verification baseline, not the scale shape)
    for (df <- Seq(
        graft.operators.Similarity.labelNoiseLshQuery(spark, sf0001),
        graft.operators.Similarity.hardNegativesLshQuery(spark, sf0001))) {
      val p = planString(df)
      assert(!p.contains("CartesianProduct"), p.take(1500))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"), p.take(1500))
    }
  }

  test("q183 leakage split: labels join back by doc_id equi-join, " +
    "no global sort before the output ordering") {
    val p = planString({
      val docs = graft.sources.Tables.documents(spark, sf0001)
      graft.operators.PrepPipeline.leakageSafeSplit(
        docs, graft.operators.Extensions.dupPairs(docs))
    })
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the split column derives from the portable hash of cluster_id —
    // a projection, not another shuffle: the only exchanges are the
    // clustering's own keyed shuffles plus the final ORDER BY range
    assert(p.contains("md5"), "bucket must be the portable hash:\n" +
      p.take(1500))
  }

  test("q233/q235: n-grams are built scan-side (no adjacency join), " +
    "the doc-keyed aggregates stay equi-joined") {
    val p233 = planString(
      graft.operators.RepetitionFilter.repetitionQuery(spark, sf0001))
    assert(!p233.contains("CartesianProduct"), p233.take(1500))
    assert(!p233.contains("BroadcastNestedLoopJoin"), p233.take(1500))
    // grams come from transform() over the token array inside the
    // projection — a position self-join would surface as an extra
    // join on the gram side
    assert(p233.contains("transform"), p233.take(1500))
    val p235 = planString(
      graft.operators.RepetitionFilter.sharedSpanQuery(spark, sf0001))
    assert(!p235.contains("CartesianProduct"), p235.take(1500))
    assert(p235.contains("transform"), p235.take(1500))
  }

  test("q234/q236: sampling thresholds and quotas attach by " +
    "BROADCAST; the corpus is never shuffled for the verdict") {
    val p234 = planString(
      graft.operators.Sampling.balancedSampleQuery(spark, sf0001))
    assert(p234.contains("BroadcastHashJoin"), p234.take(1500))
    assert(!p234.contains("CartesianProduct"), p234.take(1500))
    val p236 = planString(
      graft.operators.Sampling.quotaManifestQuery(spark, sf0001))
    assert(!p236.contains("CartesianProduct"), p236.take(1500))
    // the rank window is per-source, never a global total order
    assert(!p236.contains("Window [") ||
      !p236.contains("No Partition Defined"), p236.take(1500))
  }

  test("q237: the packing running sum is a source-keyed window — " +
    "one hash-partitioned exchange, no single-partition funnel") {
    val p = planString(
      graft.operators.Packing.contextWindowsQuery(spark, sf0001))
    assert(p.contains("hashpartitioning(source"),
      "the cumulative sum must partition by source:\n" + p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("q247: the ORC read-back pushes the quantity predicate into " +
    "the scan (stripe statistics serve it, not a post-filter)") {
    val p = planString(
      graft.operators.Extensions.q247OrcRoundtrip(spark, sf0001))
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_quantity"), p.take(2000))
    graft.sources.Scratch.sweep(spark)
  }

  test("q267 column stats: ONE unpivot Expand, partial-then-final agg") {
    val p = planString(
      graft.operators.Maintenance.tableStatsQuery(spark, sf0001))
    val expands = "Expand".r.findAllIn(p).length
    assert(expands >= 1, p.take(2000))
    // one melt, not one pass per column: a second Expand (or a Union
    // of per-column scans) would scan the table 6x at scale
    assert(!p.contains("Union"), p.take(2000))
    assert(p.contains("partial"), p.take(2000))
  }

  test("q266 cogroup plans CoGroup over co-partitioned sides (no join materialization)") {
    val p = planString(
      graft.operators.Reconcile.reconcileQuery(spark, sf0001))
    assert(p.contains("CoGroup"), p.take(2000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q263 incremental refresh reads the base from parquet, not a rescan") {
    // the returned MERGE plan scans events at most twice — the 1-row
    // cutoff aggregate and the delta filter — and must read the
    // materialized base AGGREGATE from parquet; a third events scan
    // would mean the refresh recomputes the base window from facts
    val df = graft.operators.Maintenance
      .incrementalAggQuery(spark, sf0001)
    val p = planString(df)
    val eventScans = "events\\.parquet".r.findAllIn(p).length
    assert(eventScans <= 2,
      s"base window recomputed from events ($eventScans scans):\n" +
        p.take(2000))
    assert(p.contains("q263_base"), p.take(2000))
    graft.sources.Scratch.sweep(spark)
  }

  test("q269 priority sample compiles to TakeOrderedAndProject (no global sort)") {
    val p = planString(
      graft.operators.Sampling.prioritySampleQuery(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q268 rendezvous argmax combines map-side (partial_max)") {
    val p = planString(
      graft.operators.Sharding.rendezvousQuery(spark, sf0001))
    assert(p.contains("partial_max") || p.contains("partial_"),
      p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }
}
