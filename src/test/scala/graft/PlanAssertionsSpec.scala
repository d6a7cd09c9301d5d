package graft

import graft.api.GraftEngine

/** Physical-plan regression guards: the queries must keep the plans the
  * 100 TB design calls for (broadcast dims, pushdown, top-k without a full
  * sort, no accidental cartesian products) — `.explain` as a test, not
  * just documentation (EXPLAINS.md).
  */
class PlanAssertionsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("star join q04 broadcasts every dimension (no shuffle joins)") {
    val p = plan("q04_broadcast_star")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("filters push into the parquet scan (q02)") {
    val p = plan("q02_filter_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p.contains("PushedFilters: ["))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") ||
      p.contains("l_shipdate"))
  }

  test("global top-k q09 plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q09_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("LATERAL top-n q37 decorrelates to a ranked-window join") {
    // a correlated ORDER BY + LIMIT subquery must become WindowGroupLimit
    // (map-side partial top-k per key), never per-row subquery execution
    val p = plan("q37_lateral_topn")
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q41 six-table join: filters reach the scans, no cartesian") {
    val p = plan("q41_local_supplier_revenue")
    // the region predicate and the order-date range must hit parquet
    assert(p.contains("EqualTo(r_name,ASIA)"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"))
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))
  }

  test("d47 BM25 top-10 plans as TakeOrderedAndProject, not a full sort") {
    assert(plan("d47_bm25").contains("TakeOrderedAndProject"))
  }

  test("d49 token-budget window shuffles BY SOURCE (keyed, no global sort)") {
    // the running-sum window must demand hashpartitioning(source), so the
    // budget fill stays partition-parallel; a rangepartitioning exchange
    // feeding the Window would mean a global sort of the corpus
    val p = plan("d49_token_budget")
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(source"))
  }

  test("d45 k-means joins broadcast the centroid side (k rows), never SMJ") {
    val p = plan("d45_kmeans")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q60 prunes partitions at the directory level (no row-side filter)") {
    // the o_year predicate must land in PartitionFilters (directories for
    // non-matching years are never opened); nothing should remain as a
    // data-side filter — the scan reads zero predicate work per row
    val p = plan("q60_partition_pruned")
    assert(raw"PartitionFilters: \[isnotnull\(o_year#\d+\), \(o_year#\d+ >= 1994\), \(o_year#\d+ <= 1995\)\]"
      .r.findFirstIn(p).isDefined, p)
    assert(p.contains("PushedFilters: []") && p.contains("DataFilters: []"), p)
  }

  test("q61 bucketed join: no Exchange and no Sort below the SortMergeJoin") {
    // both sides are bucketed+sortBy'd on the join key with one file per
    // bucket, so the SMJ must consume the scans directly — the layout-time
    // shuffle bought a shuffle-free, sort-free join on every read
    val p = plan("q61_bucketed_join")
    val i = p.indexOf("SortMergeJoin")
    assert(i >= 0, p)
    val below = p.substring(i)
    assert(!below.contains("Exchange") && !below.contains("+- Sort"), below)
    assert("SelectedBucketsCount: 8 out of 8".r.findAllIn(p).size == 2, p)
    assert(p.contains("Bucketed: true"), p)
  }

  test("no query plans a CartesianProduct") {
    // BroadcastNestedLoopJoin with a broadcast side is the intended shape
    // for the ANN/simhash cross joins; an unbroadcast CartesianProduct is
    // always a bug.
    SparkEntry.queries.keys.foreach { name =>
      assert(!plan(name).contains("CartesianProduct"), s"query $name")
    }
  }

  test("stream cursor filter pushes into the parquet scan") {
    val e = new GraftEngine(spark, freshRoot())
    val t = e.table("ev", "w")
    t.append((1L to 10L).map(i => (i, s"e$i")).toDF("seq", "payload")); t.flush()
    val st = t.asStream(orderBy = "seq")
    st.seek(5L)
    st.consumeRecords().foreach(_ => ()) // force planning + run
    val p = t.read.filter($"seq" > 5L).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(seq,5)"))
  }
}
