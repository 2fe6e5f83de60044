package graft

import org.apache.spark.sql.DataFrame
import graft.queries.{EventQueries, ServingQueries, TpchQueries}

/** Physical-plan regression guards — the scale-design claims, held in
  * place: pruning reaches the scans, per-group rank state is bounded,
  * small sides broadcast, global top-K never does a global sort.
  */
class PlanSpec extends SparkSuite {

  private def planOf(df: DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }

  test("serving lookup: hot path is a pinned in-memory scan; cold layout prunes") {
    // warm path: the ranked table is pinned in memory (the Pinot
    // memory-mapped-segment analog) — no parquet I/O per lookup.
    val p = planOf(ServingQueries.topKLookupServed(spark, sfDir))
    assert(p.contains("InMemoryTableScan"), p)
    // cold path: the on-disk layout still prunes partitions/filters/
    // columns. Materialized into a fresh root — a read of the serving
    // root itself would be substituted by the cache manager (which is
    // the hot-path point above).
    import org.apache.spark.sql.functions.col
    import graft.serving.Serving
    val t0 = Serving.anchorMs(spark, sfDir) - 72L * Serving.hourMs
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_plan").toString
    Serving.materializeInto(spark, tmpRoot, Tables.events(spark, sfDir))
    val cold = spark.read.parquet(s"$tmpRoot/topk_by_count")
      .filter(col("p_date") >= Serving.utcDate(t0) &&
        col("window_start_ms") >= t0 && col("rank") <= 3)
      .select("window_start_ms", "rank", "user_id", "order_count", "total_cents")
    val pc = planOf(cold)
    assert(pc.contains("PartitionFilters: [isnotnull(p_date"), pc)
    assert(pc.contains("GreaterThanOrEqual(window_start_ms"), pc)
    assert(pc.contains("LessThanOrEqual(rank") || pc.contains("IsNotNull(rank"), pc)
    assert(!pc.contains("w_ts"), "layout helper column must be pruned from the scan\n" + pc)
  }

  test("decayed top-K served: the plan reads hourly state, never the fact table") {
    // the point of the served variant: at 100 TB the decayed board
    // recomputes from |hours|x|users| state rows, not from events —
    // the scan must target agg_by_window and nothing events-shaped
    val p = planOf(ServingQueries.topKDecayedServed(spark, sfDir))
    assert(p.contains("agg_by_window") || p.contains("InMemoryTableScan"), p)
    assert(!p.contains("events.parquet"), "served decayed board scanned the fact table\n" + p)
  }

  test("per-window top-K: rank filter becomes a partial+final WindowGroupLimit") {
    val p = planOf(EventQueries.topKWindowed(spark, sfDir))
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), p)
    assert(!p.contains("props"), "events scan must prune unused columns\n" + p)
  }

  test("dim join: broadcast hash join + partial aggregation before the shuffle") {
    val p = planOf(TpchQueries.queries("q_tpch_brand_revenue")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("global top-K: TakeOrderedAndProject, no global Sort of the aggregate") {
    val p = planOf(EventQueries.topKGlobalRevenue(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("first-wins dedup: partial WindowGroupLimit prunes to 1 row/key before the shuffle") {
    val p = planOf(EventQueries.dedupEvents(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("row_number(), 1, Partial"), p)
    assert(finalPlan.contains("row_number(), 1, Final"), p)
  }

  test("est_ok verification joins broadcast their small aggregated sides") {
    val p = planOf(EventQueries.compactHourlyHll(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "two small agg outputs must broadcast-join, not sort-merge\n" + p)
  }

  test("rollup: map-side partial aggregation, bounded shuffle count") {
    val p = planOf(EventQueries.rollup1m(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("partial_count") || finalPlan.contains("partial_sum"), p)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(shuffles <= 2,
      s"rollup should shuffle at most twice (agg + exact-distinct expand), got $shuffles\n" + p)
  }

  test("funnel: the per-user reduction is the only fact-sized shuffle") {
    val p = planOf(graft.queries.AnalyticsQueries.funnel(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("partial_min") || finalPlan.contains("Partial"), p)
    // one user_id exchange over the fact; everything after operates on
    // the <=5-row stage table (tiny exchanges are fine, nested loops
    // against the per-user frame are not)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(finalPlan).size === 1, p)
    assert(!finalPlan.contains("CartesianProduct"), p)
  }

  test("vocab: explode aggregates map-side and tops out without a global sort") {
    val p = planOf(graft.queries.DocQueries.docVocab(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("TakeOrderedAndProject"), p)
    assert(finalPlan.contains("partial_count") || finalPlan.contains("Partial"), p)
  }

  test("dup-ngram census: map-side partial aggs, no cartesian, equi-joins only") {
    // the raw (pre-checkpoint) frame — the public op's eager
    // localCheckpoint hides the real plan behind an RDD scan
    val (raw, _) = graft.ops.NearDup.dupNgramStatsFrames(
      Tables.documents(spark, sfDir), 3, 2, "doc_id", "text")
    val p = planOf(raw)
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("partial_count") || finalPlan.contains("Partial"), p)
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), p)
  }

  test("Q5 cycle join: dims broadcast, ONE fact-fact shuffle join, no nested loop") {
    val p = planOf(TpchQueries.localSupplierVolume(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    // the nation-equality cycle must stay a row-local filter after
    // broadcasts — a planner that loses the equi-keys would fall back
    // to a nested loop
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), p)
    assert(finalPlan.contains("BroadcastHashJoin"), p)
    // exactly one shuffled join: lineitem x orders
    assert(finalPlan.sliding("SortMergeJoin".length)
      .count(_ == "SortMergeJoin") +
      finalPlan.sliding("ShuffledHashJoin".length)
        .count(_ == "ShuffledHashJoin") <= 1, p)
  }

  test("trigrams: both lags ride one user-keyed window; top-20 is a bounded heap") {
    val p = planOf(graft.queries.AnalyticsQueries.eventTrigrams(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    // exactly two Window nodes: the fact-sized one hosting BOTH lags
    // (a second fact window would be a second sort), and the rank
    // window over the ≤20-row TakeOrdered output
    assert(finalPlan.sliding("Window [".length).count(_ == "Window [") <= 2,
      p)
    // the fact window is user-keyed, so both lag exprs share one node
    assert(finalPlan.contains("lag(event_type"), p)
    assert(finalPlan.contains("TakeOrderedAndProject"), p)
    // counts collapse map-side onto the alphabet³ domain
    assert(finalPlan.contains("partial_"), p)
  }

  test("frame overlap: hashes computed below the exchange, distinct dedups map-side") {
    val p = planOf(graft.queries.MediaQueries.frameOverlap(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), p)
    // md5 projects BELOW the first exchange: everything above it (the
    // post-shuffle reduce side) sees only frame_hash + media_id —
    // frame bytes never cross the wire
    val aboveExchange = finalPlan.split("Exchange").head
    assert(!aboveExchange.contains("frame_bytes"), p)
    // the distinct-video count dedups map-side ((hash, media) partial
    // aggregate below the exchange)
    assert(finalPlan.contains("partial_"), p)
  }

  test("Q9 profit shape: part/nation dims broadcast, ONE fact-fact shuffle") {
    val p = planOf(TpchQueries.productProfit(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), p)
    // name-filtered part and the supplier→nation chain both broadcast
    assert(finalPlan.contains("BroadcastHashJoin"), p)
    // the only shuffled join is lineitem x orders
    assert(finalPlan.sliding("SortMergeJoin".length)
      .count(_ == "SortMergeJoin") +
      finalPlan.sliding("ShuffledHashJoin".length)
        .count(_ == "ShuffledHashJoin") <= 1, p)
    // (nation, year) aggregate keeps map-side partial aggregation
    assert(finalPlan.contains("partial_"), p)
  }

  test("Q17 correlated-scalar shape: per-part avg joins back, no per-row subquery") {
    val p = planOf(TpchQueries.smallQuantityRevenue(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), p)
    // the per-part average aggregates with map-side partials before
    // broadcasting back onto the fact scan
    assert(finalPlan.contains("partial_sum") || finalPlan.contains("Partial"), p)
    assert(finalPlan.contains("BroadcastHashJoin"), p)
  }

  test("Q13 custdist: orders pre-aggregate BELOW the outer join, no fact re-shuffle") {
    val p = planOf(TpchQueries.custDistribution(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    // the per-customer count must form before the join (the HashAggregate
    // with partial_count sits under the join, not over it): order rows
    // never cross the outer join
    assert(finalPlan.contains("partial_count"), p)
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), p)
    // outer-join form survives planning (LeftOuter via broadcast or shuffle)
    assert(finalPlan.contains("LeftOuter"), p)
  }

  test("Q19 disjunctive predicate: per-side necessary conditions reach both scans") {
    val p = planOf(TpchQueries.disjunctRevenue(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    // the hand-factored qty bound prunes lineitem AT THE SCAN
    assert(finalPlan.contains("GreaterThanOrEqual(l_quantity,1.0)") ||
      finalPlan.contains("PushedFilters: [IsNotNull(l_quantity)"), p)
    // the brand set prunes part at its scan
    assert(finalPlan.contains("In(p_brand"), p)
    assert(finalPlan.contains("BroadcastHashJoin"), p)
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), p)
  }

  test("Q21 sole-late shape: two keyed aggregations, no correlated self-joins of the fact") {
    val p = planOf(TpchQueries.soleLateSupplier(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), p)
    // ONE fact-fact join (lineitem x orders); the double existential is
    // aggregation, not two more joins of the fact
    assert(finalPlan.sliding("SortMergeJoin".length)
      .count(_ == "SortMergeJoin") +
      finalPlan.sliding("ShuffledHashJoin".length)
        .count(_ == "ShuffledHashJoin") <= 1, p)
    assert(finalPlan.contains("partial_count") || finalPlan.contains("Partial"), p)
  }

  test("served trending reads the pinned minute rollup, never the raw fact") {
    val df = ServingQueries.topKTrendingServed(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the serving table is pinned in memory by readTable
    assert(p.contains("InMemoryTableScan") || p.contains("rollup_1m"), p)
    assert(!p.contains("events.parquet"),
      "served trending must not rescan the fact\n" + p)
    // rank filter stays bounded per window
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("percentile/quantile routes: one window stage over the pinned state, no joins") {
    // the sub-200ms serving claim rests on stage count: a routed
    // in-memory scan, ONE window (RANGE-frame shared cumsum makes the
    // bin-collapse groupBy redundant), union+take envelope. Any Join
    // node means the broadcast-subquery envelope came back; a second
    // HashAggregate chain means the 6-stage pivot shape did.
    for (df <- Seq(
      graft.api.TopKApi.percentiles(spark, sfDir),
      graft.api.TopKApi.quantile(spark, sfDir, pPerMille = Seq(125L, 975L)))) {
      val p = planOf(df)
      assert(p.contains("InMemoryTableScan"), p) // routed replica pin
      assert(!p.contains("Join"), p)
      assert(p.sliding("Window".length).count(_ == "Window") >= 1, p)
      assert(!p.contains("HashAggregate"), p)
    }
  }

  test("prepared API routes: every call scans the one-partition pin in memory, no exchange") {
    // one job of one stage per call: a routed pin is one partition, so
    // no route plans an exchange — and no prepared parameter can sit
    // below one, where a map output written under another call's
    // values could be reused
    import graft.api.TopKApi
    import graft.serving.Serving
    val from = Some(Serving.anchorMs(spark, sfDir) - 72L * Serving.hourMs)
    for (df <- Seq(
        TopKApi.topk(spark, sfDir),
        TopKApi.topk(spark, sfDir, fromMs = from, byRevenue = true),
        TopKApi.topk(spark, sfDir, restaurantId = "click", fromMs = from, k = 3),
        TopKApi.topk(spark, sfDir, restaurantId = "click", fromMs = from, byRevenue = true),
        TopKApi.distinctUsers(spark, sfDir, restaurantId = "click", fromMs = from),
        TopKApi.distinctUsersExact(spark, sfDir),
        TopKApi.percentiles(spark, sfDir, fromMs = from),
        TopKApi.quantile(spark, sfDir, restaurantId = "click", pPerMille = Seq(125L, 975L)),
        TopKApi.quantileApprox(spark, sfDir, fromMs = from),
        TopKApi.quantileApproxAllTypes(spark, sfDir, pPerMille = Seq(125L, 500L)))) {
      val p = planOf(df)
      assert(p.contains("InMemoryTableScan"), p)
      assert(!p.contains("Exchange"), p)
    }
  }

  test("served SQL statements: the prepared plan scans the pins in memory, no shuffle above them, one job per warm call") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.queries.SqlQueries
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try for (statement <- Seq[(org.apache.spark.sql.SparkSession, String) => DataFrame](
        SqlQueries.topkRollup, SqlQueries.revenueByHour, SqlQueries.percentileSql)) {
      val df = statement(spark, sfDir)
      df.collect() // warm: pins, plan and broadcast built
      val prepared = df.queryExecution.executedPlan.collectFirst {
        case p: graft.plans.PreparedExec => p.plan
      }
      assert(prepared.isDefined, df.queryExecution.executedPlan.treeString)
      val plan = prepared.get
      // collect stops at the in-memory scans: the pins' own one-partition
      // exchange is not part of the statement's plan
      assert(plan.collect { case s: InMemoryTableScanExec => s }.nonEmpty, plan.treeString)
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan.treeString)
      org.apache.spark.ListenerDrain(spark.sparkContext)
      jobs.set(0)
      statement(spark, sfDir).collect()
      org.apache.spark.ListenerDrain(spark.sparkContext)
      assert(jobs.get() === 1, plan.treeString)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("segment dedup: hash-keyed partial-agg keep-first, no window, no joins") {
    val p = planOf(graft.ops.NearDup.segmentDedup(
      Tables.documents(spark, sfDir), segWords = 10))
    val finalPlan = p.split("== Initial Plan ==").head
    // the op is explode → seg-HASH-keyed min(struct) agg → doc-keyed
    // reassembly: any join means the shape regressed, and a Window
    // means the keep-first went back to the hot-partition per-key sort
    assert(!finalPlan.contains("Join"), p)
    assert(!finalPlan.contains("Window"), p)
    // duplicates must collapse map-side BEFORE the exchange — the
    // property that makes a hyper-common segment skew-safe
    assert(finalPlan.contains("partial_min"), p)
    assert(!finalPlan.contains("SinglePartition"), p)
  }

  test("boilerplate scrub: one seg_h window, no join-back, no single partition") {
    val p = planOf(graft.ops.NearDup.boilerplateScrub(
      Tables.documents(spark, sfDir), segWords = 10))
    val finalPlan = p.split("== Initial Plan ==").head
    // r16: corpus frequency is ONE count-over-window on the 128-bit
    // hash key (one seg_h exchange, segments cut once) — the previous
    // groupBy + anti-join-back shape paid a second exchange and a
    // second tokenize pass and measured ~40 % slower; the window is
    // keyed (never a SinglePartition global sort) and no join remains
    assert(finalPlan.contains("Window"), p)
    assert(!finalPlan.contains("Join"), p)
    assert(!finalPlan.contains("SinglePartition"), p)
  }

  test("partial upsert: ONE key-shuffle with map-side partial max_by, no window") {
    val p = planOf(graft.queries.EventQueries.partialUpsertProfile(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    // a Window/self-join formulation would shuffle the patch history;
    // the agg form merges sparse profiles map-side before ONE exchange
    assert(!finalPlan.contains("Window") && !finalPlan.contains("Join"), p)
    assert(finalPlan.contains("partial_max_by") || finalPlan.contains("Partial"), p)
    assert(finalPlan.sliding("Exchange".length).count(_ == "Exchange") <= 2, p)
  }

  test("tuple sketch build: partial aggregation before the group shuffle") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sfDir)
    val sk = ev.filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        graft.functions.KmvSketch.keyHash(col("user_id")).as("h"),
        col("value_cents").as("v"))
      .groupBy(col("event_type"))
      .agg(graft.functions.TupleSketch.tupleSk(col("h"), col("v"), 64).as("sk"))
    val p = planOf(sk)
    val finalPlan = p.split("== Initial Plan ==").head
    // the bounded 2k-long buffer must combine map-side (ObjectHashAgg
    // partial) — a single-stage agg would ship every raw row
    assert(finalPlan.contains("partial_tupleagg"), p)
  }

  test("span scrub: one gram_h window for firsts, anti-join keyed, no nested loop") {
    val p = planOf(graft.ops.NearDup.spanScrub(
      Tables.documents(spark, sfDir), k = 5))
    val finalPlan = p.split("== Initial Plan ==").head
    // the kept-tokens LeftAnti on (doc_id, pos) stays an equi-join —
    // a nested loop means a key got lost
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), p)
    // r16: first-occurrence selection and the non-first probe are ONE
    // min/count window over the 128-bit gram hash (narrow rows — the
    // gram text never reaches the exchange), replacing the groupBy +
    // join-back that hashed the corpus twice and measured ~30 %
    // slower; the window is keyed, never a SinglePartition sort
    assert(finalPlan.contains("Window"), p)
    assert(!finalPlan.contains("SinglePartition"), p)
  }

  test("edit-distance pairs: candidates come from equi-joins, never a nested loop") {
    val (raw, _) = graft.ops.NearDup.editDistancePairsFrames(
      Tables.documents(spark, sfDir), 80, 5, "doc_id", "text")
    val p = planOf(raw)
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"),
      "PassJoin candidate generation must stay an equi-join\n" + p)
  }

  test("tfidf: term-frequency join keeps partial aggregation; window is doc-keyed") {
    val p = planOf(graft.queries.DocQueries.docTfidf(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("partial_count") || finalPlan.contains("Partial"), p)
    // the top-3 window partitions by doc_id — a global (empty-key)
    // window would serialize the corpus through one task
    assert(finalPlan.contains("windowspecdefinition(doc_id"), p)
  }

  test("shuffled pack survives 1000 range partitions and matches the sequential scan") {
    // parity at a realistic cluster partition count exercises the
    // map-literal offset path (the when-chain it replaced blew the
    // expression tree at this width — same fix as Rank); the hash
    // order must still be bit-equal to the one-task sequential cumsum
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), graft.functions.Text.estBpeTokens(col("n_chars")).as("est_tokens"))
    val ord = md5(concat(lit("shuf1:"), col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(ord.asc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = docs
      .withColumn("start_offset", coalesce(sum(col("est_tokens")).over(w), lit(0L)))
      .select("doc_id", "start_offset").as[(Long, Long)].collect().toMap
    val got = graft.ops.Pack.packOffsets(docs, "doc_id", "est_tokens",
        budget = 4096, partitions = 1000, orderBy = Some(ord))
      .select("doc_id", "start_offset").as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("star-tree node: partition filter on gid, no fact-table scan") {
    val p = planOf(graft.serving.StarTree.aggregate(spark, sfDir, Seq("event_type")))
    assert(p.contains("PartitionFilters: [isnotnull(gid"), p)
    assert(!p.contains("events.parquet"),
      "node read must never touch the fact table\n" + p)
  }

  test("curation pipeline: equi-joins only, partial aggregation, no cartesian") {
    // the stage COMPUTATION's plan — the gate itself now serves from
    // the materialized stage tables (a join-only read by
    // construction), so the shape claims pin the build pipeline
    import org.apache.spark.sql.functions.col
    val (_, _, reps, labels) =
      graft.queries.DocQueries.curateStagesCompute(spark, sfDir)
    val survivors = reps.join(labels, Seq("doc_id"), "left")
      .filter(col("canonical_id").isNull ||
        col("canonical_id") === col("doc_id"))
      .select(col("doc_id"), col("logit"))
    val p = planOf(survivors)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), "map-side combine missing\n" + p)
  }

  test("served IVFADC probe: dynamic partition pruning on the codes scan") {
    val df = graft.queries.EmbedQueries.queries("q_embed_knn_ivfadc_served")(spark, sfDir)
    val p = planOf(df)
    assert(p.toLowerCase.contains("dynamicpruning"),
      "codes scan lost its dynamic partition-pruning expression\n" + p)
  }

  test("keyed scan survives 1000 range partitions; budget applies as a map literal, no join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // parity at cluster partition counts exercises the pid|key
    // map-literal offset path (same width hazard as Rank/Pack)
    val d = Tables.documents(spark, sfDir).select(
      col("doc_id"), col("source"),
      graft.functions.Text.tokenCount(col("text")).as("n_tokens"),
      md5(concat(lit("quota1:"), col("doc_id").cast("string"))).as("_ord"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("_ord"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = d.withColumn("cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select($"doc_id", $"cum").as[(Long, Long)].collect().toMap
    val got = graft.ops.Quota.keyedExclusiveScan(d, "source", Seq("_ord"),
        "doc_id", "n_tokens", partitions = 1000)
      .select($"doc_id", $"cum").as[(Long, Long)].collect().toMap
    assert(got === want)
    // the allocation applies totals/budgets as a bounded MAP LITERAL
    // over the scan output (keyedExclusiveScan already collected the
    // per-key totals as driver metadata for its offsets) — no join of
    // any kind: a sort-merge of the scan output against a nSources-row
    // dim would be the wrong 100TB shape, and even the broadcast the
    // pre-r16 implementation used re-aggregated the scanned frame once
    // per call for numbers the scan had already computed
    val totals = d.groupBy($"source").agg(sum($"n_tokens").as("t"))
      .as[(String, Long)].collect().toMap
    val alloc = graft.ops.Quota.tokenBudget(d.drop("_ord"), "doc_id", "source",
      "n_tokens", totals.map { case (s, t) => s -> t * 3 / 2 }, maxEpochs = 3)
    val p = planOf(alloc)
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("element_at(map("),
      "per-source totals/budgets should inline as a map literal\n" + p)
    assert(!finalPlan.contains("SortMergeJoin") &&
      !finalPlan.contains("BroadcastHashJoin") &&
      !finalPlan.contains("CartesianProduct"), p)
  }

  test("drift audit: one fact exchange, partial aggregation, broadcast totals") {
    val p = planOf(graft.queries.DocQueries.docDrift(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("partial_sum") || finalPlan.contains("Partial"), p)
    // one (feature, value) exchange over the exploded fact — the
    // totals branch must REUSE it (ReusedExchange), not recompute it
    // — and the fact is scanned exactly once
    val factEx = "Exchange hashpartitioning\\(feature[^,]*, value".r
      .findAllIn(finalPlan).size
    val reused = "ReusedExchange".r.findAllIn(finalPlan).size
    assert(factEx - reused === 1,
      s"expected 1 live (feature,value) exchange, got $factEx with $reused reused\n" + p)
    assert("FileScan parquet".r.findAllIn(finalPlan).size === 1,
      "documents must be scanned once\n" + p)
    assert(finalPlan.contains("BroadcastHashJoin") &&
      !finalPlan.contains("SortMergeJoin") &&
      !finalPlan.contains("CartesianProduct"), p)
  }

  test("lmScore census probe: broadcast at serving scale; salted join keys spread a planted hyper-common bigram when it must shuffle") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // plant the skew: every doc shares one hyper-common bigram, plus
    // a unique filler bigram so the census isn't one row. (AQE's
    // skew-join split can structurally NEVER fire on this plan — the
    // census side keeps its final aggregate between the exchange and
    // the join, and OptimizeSkewedJoin only matches bare-shuffle
    // children — so the skew protection must be the SALT, not AQE.)
    val docs = (0L until 3000L)
      .map(i => (i, s"aa bb u${i}a"))
      .toDF("doc_id", "text")
    // arm 1 (the serving default): the one-row-per-hash census side
    // is small, so the probe join stays a broadcast — no skew at all
    val p1 = planOf(graft.queries.DocQueries.lmScore(docs))
    val f1 = p1.split("== Initial Plan ==").head
    assert(f1.contains("BroadcastHashJoin"),
      "census probe should broadcast at this scale\n" + p1)
    // arm 2 (the 100 TB census): force the shuffle shape — the join
    // must key on (h, salt), so the hottest gram's probe rows spread
    // over lmSaltBuckets partitions BY CONSTRUCTION, and the result
    // is identical (hash-gated upstream)
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df2 = graft.queries.DocQueries.lmScore(docs)
      val rows2 = df2.collect()
      val f2 = df2.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(f2.contains("SortMergeJoin") || f2.contains("ShuffledHashJoin"),
        "broadcast was supposed to be disabled\n" + f2)
      // the shuffled join's keys carry the salt next to the hash
      val joinLine = f2.linesIterator
        .find(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")).get
      assert(joinLine.contains("salt"),
        s"census probe join is not salted: $joinLine")
      // salting changed no answers
      val rows1 = graft.queries.DocQueries.lmScore(docs).collect()
      assert(rows2.map(_.toString).sorted.toSeq ===
        rows1.map(_.toString).sorted.toSeq)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bloom semi join: the probe filters the fact BELOW the join") {
    val p = planOf(TpchQueries.queries("q_tpch_bloom_semi")(spark, sfDir))
    val finalPlan = p.split("== Initial Plan ==").head
    val probe = "bloommightcontainlong"
    assert(finalPlan.toLowerCase.contains(probe),
      "probe expression missing from the physical plan\n" + p)
    // probe must sit on the scan side, i.e. appear AFTER (deeper than)
    // the semi-join node in the plan text
    val joinIdx = finalPlan.indexOf("LeftSemi")
    val probeIdx = finalPlan.toLowerCase.indexOf(probe)
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"probe not below the semi join (join@$joinIdx, probe@$probeIdx)\n" + p)
  }

  test("rhp lsh near-dup: the banding exchanges carry no vector payload") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    def exchanges(pl: SparkPlan): Seq[ShuffleExchangeExec] = pl match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case s: QueryStageExec => exchanges(s.plan)
      case e: ShuffleExchangeExec => e +: e.children.flatMap(exchanges)
      case other => other.children.flatMap(exchanges)
    }
    // at fixture scale AQE broadcasts every join and no band-keyed
    // exchange exists; the claim under test is the AT-SCALE shape
    // (both sides too big to broadcast), so force shuffle joins
    val static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val adaptive = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // the plan seam: the public operator checkpoints its (small)
    // result, which would hide the join plan behind an RDD scan
    val (scored, cached) = graft.ops.Ann.rhpScored(
      Tables.embeddings(spark, sfDir), 0.35, 32, 8, "vec_id", "embedding")
    try {
      scored.collect()
      val p = scored.queryExecution.executedPlan
      assert(!p.toString.contains("CartesianProduct") &&
        !p.toString.contains("BroadcastNestedLoopJoin"), p.toString)
      // the candidate-generation exchanges (partitioned by band /
      // bucket) must move ONLY (id, band, bv) — at 100 TB this is the
      // whole claim: a few dozen bytes per vector on the wire, vectors
      // fetched by id only for the rare candidates
      val bandEx = exchanges(p)
        .filter(_.outputPartitioning.toString.contains("band"))
      assert(bandEx.nonEmpty, "no band-partitioned exchange in the plan\n" + p)
      bandEx.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"vector column crosses the banding exchange: ${e.output}\n" + p)
      }
    } finally {
      cached.unpersist()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", static)
      adaptive match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
      ()
    }
  }

  test("embedding decontamination: one broadcast anti pass, zero corpus shuffles") {
    val emb = Tables.embeddings(spark, sfDir)
    val df = graft.ops.Ann.decontaminate(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") % 50 =!= 0),
      emb.filter(org.apache.spark.sql.functions.col("vec_id") % 50 === 0),
      threshold = 0.3)
    val p = planOf(df)
    val finalPlan = p.split("== Initial Plan ==").head
    // the nested loop is the DESIGN here (similarity predicate, no
    // equi-key, bounded broadcast side): one anti pass over the
    // corpus, never a shuffle
    assert(finalPlan.contains("BroadcastNestedLoopJoin"), p)
    assert(finalPlan.contains("LeftAnti"), p)
    assert(!finalPlan.contains("Exchange hashpartitioning"),
      "decontamination shuffled the corpus\n" + p)
  }
}
