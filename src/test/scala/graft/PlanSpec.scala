package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the scale guarantees the README
  * claims, pinned by tests: filter/column pushdown reaches the parquet
  * scan, top-k plans as TakeOrderedAndProject (no global sort), small
  * dims broadcast, and the similarity pair scan stays on hash joins +
  * hash aggregates (no interpreted nested-loop join, no sort
  * aggregate).
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    // execute THIS dataframe's plan so AQE finalizes it (join strategy
    // swaps and codegen stage wrapping only show on the final plan;
    // .write would clone the plan and leave this one unexecuted)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("f2_min_length: column pruning reaches the parquet scan") {
    val p = plan("f2_min_length")
    // only doc_id and text are read, not the full row
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("w1_top_orders: filter + orderBy + limit plans as TakeOrderedAndProject") {
    val p = plan("w1_top_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the predicate is pushed to the scan, not evaluated above the sort
    assert(p.contains("PushedFilters") && p.contains("o_orderpriority"), p)
  }

  test("j1_region_rollup: dimension joins broadcast") {
    val p = plan("j1_region_rollup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("v_nn_top1: argmax runs as hash aggregates, not a sort aggregate") {
    val p = plan("v_nn_top1")
    // the N² pair product is intentional (exact verify baseline —
    // IVF/LSH are the scale paths); what must NOT appear is the
    // sort-based aggregate that max_by(struct) used to force, or the
    // WindowExec over the pair stream that cost ~2 µs/row (r2's 3.5×
    // regression) — the argmax is two chained hash aggs on longs
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("a1_customer_summary: latest-by-date argmax stays in hash aggregates") {
    val p = plan("a1_customer_summary")
    assert(!p.contains("SortAggregate"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q1_pricing_summary: whole-stage codegen covers the agg pipeline") {
    val p = plan("q1_pricing_summary")
    // codegen stages print as "*(n) Op" in the final plan tree
    assert(p.contains("*(1)") && p.contains("HashAggregate"), p)
  }

  test("partitionBy layout: a partition-key filter prunes at the scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("prune").toString
    val df = (1 to 100)
      .map(i => (i.toLong, s"c${i % 5}", s"v$i"))
      .toDF("id", "company_id", "payload")
    graft.sources.Io.writeParquet(df, dir, Seq("company_id"))
    val q = spark.read.parquet(dir).filter(col("company_id") === "c3")
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    // the predicate lands in PartitionFilters (directory pruning),
    // not as a post-scan Filter over all partitions
    assert(p.contains("PartitionFilters: [isnotnull(company_id"), p)
    assert(p.contains("(company_id") && p.contains("= c3"), p)
  }

  test("q18_large_orders: HAVING keys run as a semi join, top-k as TakeOrdered") {
    val p = plan("q18_large_orders")
    // the >200-quantity order keys reach orders as a LeftSemi join
    // (one pass, no IN-list materialized on the driver), and the
    // LIMIT 100 never globally sorts
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("q7_volume_shipping: both nation dims broadcast, no nested loop") {
    val p = plan("q7_volume_shipping")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("e3_payload_assembly: child nesting is two-phase, never sort-based") {
    val p = plan("e3_payload_assembly")
    // collect_list aggregates as partial+final ObjectHashAggregate
    // (map-side combine per child), not SortAggregate
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("w_event_funnel: stage chaining is joins + hash aggs, no event-stream window") {
    val p = plan("w_event_funnel")
    // each stage is a min-agg joined on the user key — a window/
    // sequence-collection formulation would buffer per-user event
    // streams; none may appear (plan strings print node names WITHOUT
    // the Exec suffix, so match "Window", not "WindowExec")
    assert(!p.contains("Window") && !p.contains("SortAggregate"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("rank-statistic chassis: no single-task Window survives in any executed plan") {
    // the r8 verdict's one weak finding: these six queries used to run
    // row_number()/sum().over(Window.orderBy(...)) with NO partitioning
    // — one task holding the whole derived table. They now route
    // through Relational.globalRank / globalCumSum / globalRunningMax
    // (range-partitioned sort + per-partition fold), so NO Window node
    // of any kind may appear in the executed plan.
    // r9 additions: a_mood_median's grand median and t_textrank's
    // vocabulary ids used to rank a corpus-scale table in one task;
    // a_conversion_latency's per-user median and v_recall_curve's
    // corpus projection rank were the same class, found by the
    // registry-wide WindowSweepSpec. All four now route through
    // globalRank / the count-grid + globalCumSum chassis.
    for (name <- Seq(
        "a_mann_whitney", "a_wilcoxon", "a_kruskal", "st_kruskal",
        "a_rfm_segments", "a_skyline",
        "a_mood_median", "t_textrank", "a_conversion_latency", "v_recall_curve")) {
      val p = plan(name)
      assert(!p.contains("Window"), s"$name still plans a Window:\n$p")
    }
  }

  test("a_kendall_tau: every window in the concordance plan is PARTITIONED") {
    // kendallTauB computes 2-D dominance counts via two prefix scans,
    // each partitioned by the OPPOSITE axis — a global Window.orderBy
    // here would re-create the r8 single-task funnel on the dense grid.
    val p = plan("a_kendall_tau")
    // every Window node must carry a partition spec: Spark prints
    // unpartitioned windows as "Window [..], [ord..]" with NO
    // partition clause between the two bracket groups; partitioned
    // ones print three bracket groups. Assert by counting groups on
    // each Window line.
    val windows = p.linesIterator
      .filter(_.replaceAll("^[\\s+*:()\\-0-9]*", "").startsWith("Window"))
      .toSeq
    assert(windows.nonEmpty, s"expected windows in the tau plan:\n$p")
    windows.foreach { w =>
      val groups = "\\[".r.findAllIn(w).length
      assert(groups >= 3, s"unpartitioned Window in a_kendall_tau: $w")
    }
  }

  test("a_qte / a_lorenz: order statistics come from the rank chassis, never a Window") {
    for (name <- Seq("a_qte", "a_lorenz")) {
      val p = plan(name)
      assert(!p.contains("Window"), s"$name still plans a Window:\n$p")
    }
  }

  test("t_top_terms: rank window runs over the counts table, after the hash agg") {
    val p = plan("t_top_terms")
    // the token stream must collapse via HashAggregate BEFORE any
    // window sort: the Window consumes the (source, term) count agg's
    // output, i.e. sits ABOVE it (plans print root-first, so the
    // Window's index is the smaller one)
    assert(p.contains("Window") && p.contains("HashAggregate"), p)
    assert(p.indexOf("Window") < p.indexOf("HashAggregate"), p)
  }

  test("i_cdc_apply: changelog winners aggregate in hash aggs, never sort-based") {
    val p = plan("i_cdc_apply")
    // per-column max_by on primitive buffers — a struct max_by would
    // degrade the whole agg to SortAggregate
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("r_hybrid_rrf: both retrieval legs bound candidates with TakeOrdered") {
    val p = plan("r_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dd_cluster_sizes_persisted: consumer plan reads the artifact, no shingle kernel") {
    // the whole point of the dup-graph artifact: the consumer's plan
    // must contain NO pair-pipeline stages — just parquet scans of
    // documents + the persisted labels feeding hash aggregates
    val p = plan("dd_cluster_sizes_persisted")
    assert(!p.contains("word_shingles") && !p.contains("minhash"),
      s"pair pipeline leaked into the consumer plan:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("r_phrase_persisted: loaded-index scan prunes to the phrase terms' buckets") {
    val p = plan("r_phrase_persisted")
    // partition pruning on the persisted term_bucket layout — the
    // scan must carry a PartitionFilters entry on term_bucket, the
    // file-level nprobe of the retrieval index
    assert(p.contains("PartitionFilters") && p.contains("term_bucket"),
      s"no term_bucket partition pruning in:\n$p")
  }

  test("randomProject is map-only: no Exchange anywhere in the projection plan") {
    // the JL stage-1 claim: projecting the corpus adds NO shuffle —
    // the sign folds are per-row expressions over the scan
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("embedding").isNotNull)
    val proj = graft.operators.Similarity.randomProject(emb, "embedding", 64, 16)
    proj.collect()
    val p = proj.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"projection should not shuffle:\n$p")
  }

  test("histSketch: one hash-aggregate pair over the scan, no sort aggregate") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val h = graft.operators.Sketches.histSketch(li, col("l_extendedprice"), 110000.0, 64)
    h.collect()
    val p = h.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("bucketed layout: a co-bucketed fact-fact join plans with ZERO shuffles") {
    // the 100 TB co-located-join claim, pinned: both sides bucketed
    // by the join key at write time -> SortMergeJoin with no Exchange
    // anywhere in the plan (only per-bucket local sorts). This is the
    // layout lever that turns the nightly fact-to-fact reconciliation
    // from two corpus shuffles into a scan.
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    // disable AQE for this plan check: AQE rewraps the no-exchange
    // SMJ in a way that hides the property under inspection
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the fact-fact (SMJ) strategy the claim is about — at
      // test scale the fact side fits a broadcast, at 100 TB it won't
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.read.parquet(s"$sfDir/orders.parquet")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("bkt_orders")
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("bkt_lineitem")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val j = spark.table("bkt_orders")
        .join(
          spark.table("bkt_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      // the join itself must not shuffle; the final tiny groupBy may
      val joinPart = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    }
  }

  test("served IVF probe: partition-pruned scan, no shuffle or window, one execution per request") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfserve").toString + "/idx"
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0), Array(0.0, -1.0))
    // 40 vectors, 10 per cell, each near its cell's centroid
    def vec(id: Long, cell: Int) =
      (id, Seq(cents(cell)(0) + 0.01 * id, cents(cell)(1) + 0.01 * id), cell)
    graft.sources.Io.writeIvfIndex(
      (0L until 40L).map(i => vec(i, (i % 4).toInt)).toDF("vec_id", "embedding", "cell"), cents, dir)
    val query = Array(1.0, 0.05)
    /** One served request over a freshly opened index, its plan and
      * runs checked; returns the served ids.
      */
    def serve(jobs: Int) = {
      val (cs, latest) = graft.sources.Io.readIvfIndexLatest(spark, dir, "vec_id")
      val top = graft.operators.Similarity.ivfTopK(latest, "embedding", cs, query, 20, 1)
      val r = runs(top.collect())
      val plan = top.queryExecution.executedPlan
      val text = plan.toString
      assert(raw"PartitionFilters: \[isnotnull\(cell#\d+\), \(cell#\d+ = 0\)\]".r.findFirstIn(text).nonEmpty, text)
      assert(collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.isEmpty, text)
      assert(collectWithSubqueries(plan) { case w: WindowExecBase => w }.isEmpty, text)
      assert(r.executions == 1 && r.jobs == jobs, s"${r.executions} executions, ${r.jobs} jobs\n$text")
      r.out.map(_.getAs[Long]("vec_id")).toSeq.sorted
    }
    // base only: the anti-join folds away, the request is one scan job
    assert(serve(jobs = 1) == (0L until 40L by 4L))
    // id 0 moves to cell 1 (its stale copy stays in the probed cell
    // 0), id 8 is replaced in place, id 4 is deleted
    graft.sources.Io.upsertIvfIndex(Seq(vec(0L, 1), vec(8L, 0)).toDF("vec_id", "embedding", "cell"), dir, 1L)
    graft.sources.Io.deleteIvfIds(Seq(4L).toDF("vec_id"), dir, 2L)
    // the stale-version bounds broadcast from a local relation, which
    // Spark collects through a second, one-stage job of the execution
    assert(serve(jobs = 2) == (8L until 40L by 4L))
  }
}
