package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.C breadth extensions, round 3: a TPC-H Q5-shaped
  * six-table join (the join-reorder / broadcast-selection stress case),
  * relational division (the "for all" quantifier), and calendar gap-fill
  * (dimension-complete time series from sparse facts).
  */
object RelationalQueries4 {
  import Q._

  /** One conf-isolated session CLONE per parent session, reused across
    * q49 invocations: minting a fresh clone per call would register each
    * one (via Q's plan caches) as a permanently pinned strong key — an
    * unbounded leak for a long-lived service re-running the battery.
    */
  private val isoSessions =
    new java.util.IdentityHashMap[SparkSession, SparkSession]()

  private def isolatedSession(s: SparkSession): SparkSession =
    isoSessions.synchronized {
      Option(isoSessions.get(s)).getOrElse {
        val iso = s.newSession()
        isoSessions.put(s, iso)
        iso
      }
    }

  /** Broadcast-disabled session clone for q61: at bench SFs AQE would
    * broadcast the bucketed orders side and the co-located sort-merge
    * join — the thing the query demonstrates — would never appear in the
    * plan. `newSession()` shares the external catalog, so tables written
    * through the parent session are visible here. One clone per parent,
    * same leak rationale as [[isolatedSession]].
    */
  private val bucketSessions =
    new java.util.IdentityHashMap[SparkSession, SparkSession]()

  private def bucketSession(s: SparkSession): SparkSession =
    bucketSessions.synchronized {
      Option(bucketSessions.get(s)).getOrElse {
        val iso = s.newSession()
        iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        iso.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        // Trust the per-bucket sortBy order on read (off by default since
        // Spark 3.0 because multi-file buckets interleave; safe here — the
        // writer repartitions to exactly one file per bucket), so the SMJ
        // consumes scan output directly: no Exchange AND no Sort below it.
        iso.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        bucketSessions.put(s, iso)
        iso
      }
    }

  /** (applicationId, fixture dir) pairs whose q61 bucketed layout has
    * already been written this JVM — see the q61 comment.
    */
  private val q61Layouts = scala.collection.mutable.Set.empty[(String, String)]

  /** Stable scratch dir for the round-trip queries, keyed by
    * (application, fixture dir, query tag): repeated runs OVERWRITE one
    * directory instead of leaking a fresh temp dir per invocation — at
    * sf30 a single q57 CSV dump is 2.1 GB and the per-run
    * `createTempDirectory` leak exhausted the disk mid-battery (round-9
    * ladder, 328 leaked dirs / 33 GB). A JVM shutdown hook removes every
    * registered dir best-effort; `mode("overwrite")` keeps reruns clean
    * while the JVM lives.
    */
  private val rtDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val rtCleanup: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => rtDirs.forEach { d =>
      try deleteTree(java.nio.file.Paths.get(d))
      catch { case _: Throwable => () }
    }))

  /** Recursive delete with the walk stream CLOSED (an unclosed
    * `Files.walk` holds a directory descriptor until GC — one per pruned
    * generation adds up under the fd pressure a sf30 shuffle already
    * creates).
    */
  private def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root))
      scala.util.Using.resource(java.nio.file.Files.walk(root)) { st =>
        st.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      }

  /** Generation counters PER PARENT (per application+fixture+query): a
    * shared counter would let unrelated round-trip queries advance a
    * tag's generation numbers, deleting its previous dump on the very
    * next invocation whenever 4+ other round-trip calls ran in between.
    */
  private val rtGens = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()

  /** Generations under the stable parent, not one mutable dir: a
    * previously-returned round-trip DataFrame keeps a valid lineage
    * (its generation's files survive the next THREE invocations of the
    * SAME query — the counter is per parent) and concurrent same-query
    * runs never overwrite each other. Disk stays bounded: at creation
    * every generation older than the last 3 is deleted, so at most ~4
    * dumps live at once (≈8 GB at sf30 vs the unbounded leak this
    * replaced).
    */
  private def roundTripDir(s: SparkSession, dir: String, tag: String): String = {
    rtCleanup
    val key = s"${s.sparkContext.applicationId}-${Integer.toHexString(dir.hashCode)}"
    val parent = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft-$tag-$key")
    val gen = rtGens.computeIfAbsent(parent.toString,
      _ => new java.util.concurrent.atomic.AtomicLong(0L)).incrementAndGet()
    try {
      java.nio.file.Files.createDirectories(parent)
      val old = parent.toFile.listFiles()
      if (old != null) old.filter { f =>
        f.getName.startsWith("gen-") &&
          scala.util.Try(f.getName.stripPrefix("gen-").toLong)
            .toOption.exists(_ < gen - 3)
      }.foreach(f => deleteTree(f.toPath))
    } catch { case _: Throwable => () }
    rtDirs.add(parent.toString)
    parent.resolve(s"gen-$gen").toString
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C6/C7/C14 — TPC-H Q5 shape: local-supplier revenue by nation for one
    // region-year. Six tables; the c_nationkey = s_nationkey term makes the
    // supplier join a two-key equi-join, not a filter. Scale shape: only
    // the FIXED-cardinality dims (region 5 rows, nation 25) carry explicit
    // broadcast hints; customer/orders/lineitem/supplier all grow with SF
    // and stay shuffle-join-able (AQE broadcasts them at small SF on its
    // own). The region filter prunes nation before it touches the fact
    // side, and column pruning reaches every scan.
    "q41_local_supplier_revenue" -> { (s, dir) =>
      val nations = t(s, dir, "nation").as("n")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date")
          .between("1996-01-01", "1996-12-31"))
        .select("o_orderkey", "o_custkey")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(usum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    // C9/C14 — relational DIVISION ("for all"): suppliers that shipped
    // every distinct brand of STANDARD-type parts. Count-matching form:
    // per-supplier distinct-brand count vs the universe count — two hash
    // aggregations and one broadcast of a single-row frame, no
    // quantifier-style double anti-join (which needs two shuffles of the
    // fact table instead of one).
    "q42_division_all_brands" -> { (s, dir) =>
      val std = t(s, dir, "part").filter(col("p_type") === "STANDARD")
        .select("p_partkey", "p_brand")
      val universe = std.agg(countDistinct("p_brand").as("total_brands"))
      val perSupp = t(s, dir, "lineitem").select("l_suppkey", "l_partkey")
        .join(std, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey").as("s_suppkey"))
        .agg(countDistinct("p_brand").as("n_brands"))
      perSupp.crossJoin(broadcast(universe))
        .filter(col("n_brands") === col("total_brands"))
        .join(t(s, dir, "supplier").select("s_suppkey", "s_name"), "s_suppkey")
        .select("s_suppkey", "s_name", "n_brands")
        .orderBy("s_suppkey")
    },
    // C25/C27 — calendar GAP-FILL: monthly order counts per priority with
    // explicit zero rows for empty months. The month spine comes from
    // sequence() over the global [min, max] month — one 1-row aggregate,
    // exploded, cross-joined with the (tiny, fixed-cardinality) priority
    // dim; the fact-side aggregation is a plain hash agg. Scale shape: the
    // spine is O(months × priorities), independent of fact cardinality.
    "q43_month_gapfill" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("prio"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      val spine = o.agg(min("month").as("lo"), max("month").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 month"))).as("month"))
      val prios = o.select("prio").distinct()
      val counts = o.groupBy("prio", "month").agg(count(lit(1)).as("n_orders"))
      prios.crossJoin(broadcast(spine))
        .join(counts, Seq("prio", "month"), "left")
        .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
        .orderBy("prio", "month")
    },
    // C17/C25 — COHORT RETENTION over the event stream: users bucketed by
    // first-seen week, activity counted per (cohort, weeks-since). Weekly
    // cohorts because the fixture event stream spans one month. All time
    // math in epoch-µs longs via Q.epochUs (µs is the precision both
    // engines share; week truncation is unaffected below µs). Shape:
    // one per-user min-agg + one join back + one hash agg — the join key
    // (user_id) is the natural partition key at scale.
    "q44_cohort_retention" -> { (s, dir) =>
      val ev0 = t(s, dir, "events")
      val e = ev0
        .select(col("user_id"), date_trunc("week",
          timestamp_micros(epochUs(ev0))).cast("date").as("week"))
      val cohort = e.groupBy("user_id").agg(min("week").as("cohort_week"))
      e.join(cohort, "user_id")
        .withColumn("offset_w",
          (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
        .groupBy("cohort_week", "offset_w")
        .agg(countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("cohort_week", "offset_w")
    },
    // C14/C18 — ordered FUNNEL: signup → first click AFTER signup → first
    // purchase AFTER that click; users counted at their deepest stage.
    // Each stage is a filtered min-agg joined to the previous stage —
    // strictly-ordered sequences without window-over-everything, and every
    // join/agg keys on user_id (co-partitioned at scale). µs-exact longs
    // for the strict > comparisons (ns tails would disagree cross-engine).
    // Restricted to the stream's first day — over the full fixture month
    // every user completes the funnel and the query degenerates to 1 row.
    "q45_funnel" -> { (s, dir) =>
      val ev0 = t(s, dir, "events")
      val ev = ev0
        .select(col("user_id"), col("event_type"),
          epochUs(ev0).as("us"))
        .filter(col("us") < 1704153600000000L) // < 2024-01-02 00:00 UTC
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("us").as("t_signup"))
      val cl = ev.filter(col("event_type") === "click")
        .join(su, "user_id").filter(col("us") > col("t_signup"))
        .groupBy("user_id").agg(min("us").as("t_click"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(cl, "user_id").filter(col("us") > col("t_click"))
        .groupBy("user_id").agg(min("us").as("t_purchase"))
      ev.select("user_id").distinct()
        .join(su, Seq("user_id"), "left")
        .join(cl, Seq("user_id"), "left")
        .join(pu, Seq("user_id"), "left")
        .withColumn("stage",
          when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2)
            .when(col("t_signup").isNotNull, 1)
            .otherwise(0))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
        .orderBy("stage")
    },
    // C14 string aggregation — ordered, distinct list-of-values per group
    // rendered as one string. collect_set → array_sort → array_join is the
    // deterministic Spark form (collect order varies with partitioning;
    // the sort restores a total order, matching the oracle's
    // string_agg(DISTINCT .. ORDER BY ..)). Partial-aggregates map-side
    // like any hash agg; the per-group value list is bounded (priorities).
    "q46_string_agg" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(collect_set(col("o_orderpriority")).as("ps"),
          countDistinct("o_orderpriority").as("n_priorities"))
        // all-NULL group => NULL, matching string_agg (collect_set drops
        // nulls, and array_join of the then-empty set would yield "")
        .withColumn("priorities",
          when(size(col("ps")) === 0, lit(null).cast("string"))
            .otherwise(array_join(array_sort(col("ps")), ",")))
        .select("status", "priorities", "n_priorities")
        .orderBy("status")
    },
    // C23 — multiset set ops (INTERSECT ALL / EXCEPT ALL), completing the
    // bag-semantics half of the q19 set-op family: per-customer order
    // MULTIPLICITIES under status O ∩all F, minus P occurrences. Catalyst
    // plans both as a single hash aggregate over a tagged union (count-min
    // per side) — one shuffle each, no join; the final groupBy collapses
    // surviving duplicates so the output is deterministic.
    "q47_set_ops_all" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      def ck(st: String) =
        o.filter(col("o_orderstatus") === st).select("o_custkey")
      ck("O").intersectAll(ck("F")).exceptAll(ck("P"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("multiplicity"))
        .orderBy("o_custkey")
    },
    // C5/A4 — ANSI three-valued NOT IN/IN against a subquery whose result
    // set contains NULLs, through the SQL surface: with a NULL in the set,
    // `x NOT IN (...)` can never be TRUE (x ∉ set evaluates UNKNOWN), so
    // n_not_in_nullset collapses to 0 while the NULL-free NOT IN keeps its
    // anti-join semantics and IN keeps matching the non-null members. The
    // null-aware anti join this plans to is one of the classic
    // correctness traps rewrite engines get wrong — pinned here against
    // the oracle.
    "q48_not_in_nulls" -> { (s, dir) =>
      t(s, dir, "customer").createOrReplaceTempView("graft_customer")
      t(s, dir, "orders").createOrReplaceTempView("graft_orders_q48")
      s.sql(
        """SELECT
          |  (SELECT COUNT(*) FROM graft_customer
          |   WHERE c_custkey NOT IN (SELECT o_custkey FROM graft_orders_q48
          |                           WHERE o_orderstatus = 'P')) AS n_not_in,
          |  (SELECT COUNT(*) FROM graft_customer
          |   WHERE c_custkey NOT IN (
          |     SELECT CASE WHEN o_totalprice > 200000 THEN NULL
          |                 ELSE o_custkey END
          |     FROM graft_orders_q48
          |     WHERE o_orderstatus = 'P')) AS n_not_in_nullset,
          |  (SELECT COUNT(*) FROM graft_customer
          |   WHERE c_custkey IN (
          |     SELECT CASE WHEN o_totalprice > 200000 THEN NULL
          |                 ELSE o_custkey END
          |     FROM graft_orders_q48
          |     WHERE o_orderstatus = 'P')) AS n_in_nullset""".stripMargin)
    },
    // Recursive CTE (Spark 4 WITH RECURSIVE → UnionLoop): walk a synthetic
    // referral tree (parent(k) = k DIV 2 — derived from the key, so both
    // engines see the identical hierarchy) from every customer up to the
    // root, then roll account balances up by tree depth. Depth is
    // O(log |customer|) (~11 at sf0.1), so the loop runs a bounded number
    // of Spark jobs regardless of SF; each iteration is a pure map (no
    // join back to the full table), which is the shape that stays cheap at
    // 100 TB — the recursion carries only (start, cur, depth) triples.
    "q49_recursive_cte" -> { (s, dir) =>
      // recursion volume is |customer| × O(log maxKey) — LINEAR in input
      // with a depth-bounded multiplier, but past sf0.1 it crosses Spark's
      // conservative 1M-row guard (RECURSION_ROW_LIMIT_EXCEEDED at sf1:
      // 1.5M × 17 levels). Scale the row guard to the ACTUAL bound
      // (|customer| × 66: depth ≤ 64 halvings of a long key + anchor +
      // margin) instead of a fixed blank check, so it grows with input at
      // any SF yet a runaway recursion still trips ~66n. The level limit
      // (default 100) stays as the depth guard. The raised guard must not
      // LEAK: the limit is read at execution time, after this builder
      // returns, so a try/finally restore would undo it before the frame
      // runs — instead the query binds to a CLONED session (shared
      // SparkContext + cache manager, isolated SQLConf/temp views), so
      // later recursive queries on the caller's session keep the stock
      // runaway guard.
      // PROFILED (round 9, solo min-of-2, local[32]): 0.97 s at sf0.001
      // (1.5k customers), 1.16 s at sf0.01, 1.71 s at sf0.1 — 100x the
      // data costs 1.76x the time. The cost is Spark's per-iteration
      // UnionLoop machinery (~85 ms/step: plan re-derivation + job
      // submission for each recursive step), x the recursion depth
      // (log2(max custkey): ~11 steps at sf0.001, ~18 at sf0.1); the
      // data term is minor at every measured SF. Nothing here re-scans
      // parquet per iteration (the anchor reads customer once; each step
      // consumes only the prior step's output), so there is nothing for
      // the engine to cache away — the overhead is the framework's
      // fixed cost per recursive step and is documented as such.
      val iso = isolatedSession(s)
      val n = t(iso, dir, "customer").count()
      iso.conf.set("spark.sql.cteRecursionRowLimit",
        math.max(1000000L, n * 66).toString)
      t(iso, dir, "customer").createOrReplaceTempView("graft_customer_q49")
      iso.sql(
        """WITH RECURSIVE chain (start_key, cur, depth) AS (
          |  SELECT c_custkey, c_custkey, 0 FROM graft_customer_q49
          |  UNION ALL
          |  SELECT start_key, cur DIV 2, depth + 1 FROM chain WHERE cur > 1
          |)
          |SELECT d.root_depth,
          |       COUNT(*) AS n_cust,
          |       CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE)
          |         AS bal_total
          |FROM (SELECT start_key, MAX(depth) AS root_depth
          |      FROM chain GROUP BY start_key) d
          |JOIN graft_customer_q49 ON d.start_key = c_custkey
          |GROUP BY d.root_depth ORDER BY d.root_depth""".stripMargin)
    },
    // Bitwise aggregate family (bit_or / bit_count): per-user event-type
    // flag masks — the compact "which behaviors has this user shown"
    // encoding — then the population histogram over masks. Two hash aggs;
    // the mask shuffle payload is 8 bytes per user regardless of how many
    // event types a user has (the same payload-compression idea as d36's
    // source bitmaps).
    "q50_bit_flags" -> { (s, dir) =>
      val idx = when(col("event_type") === "click", 0)
        .when(col("event_type") === "error", 1)
        .when(col("event_type") === "purchase", 2)
        .when(col("event_type") === "signup", 3)
        .otherwise(4) // view
      t(s, dir, "events")
        // systematic 1-in-7 sample (q30's determinism trick): on the full
        // stream every user exhibits every type and all masks collapse to
        // one value — the sample leaves partial behavior profiles
        .filter(col("event_id") % 7 === 0)
        .withColumn("idx", idx)
        .select(col("user_id"), col("idx"))
        .withColumn("b", expr("shiftleft(CAST(1 AS BIGINT), idx)"))
        .groupBy("user_id").agg(expr("bit_or(b)").as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("n_users"))
        .withColumn("n_types", expr("bit_count(mask)").cast("int"))
        .select("mask", "n_types", "n_users")
        .orderBy("mask")
    },
    // Winsorization / outlier clipping — the standard numeric-feature
    // prep step: clamp to the exact [p1, p99] of the distribution and
    // account for what was clipped. percentile_DISC (not cont): disc
    // picks actual data values, so no interpolation formula whose FP
    // evaluation order could differ across engines. Clipped sums quantize
    // to micro-units before aggregation — floor of an identical double is
    // an identical BIGINT, and integer sums are order-independent (a
    // DECIMAL cast of an arbitrary double would hit Spark's
    // shortest-representation rounding vs DuckDB's binary-expansion
    // rounding and diverge in the last decimal).
    "q51_winsorize" -> { (s, dir) =>
      t(s, dir, "events").createOrReplaceTempView("graft_events_q51")
      s.sql(
        """WITH b AS (
          |  SELECT
          |    CAST(percentile_disc(0.01) WITHIN GROUP (ORDER BY value)
          |         AS DOUBLE) AS lo,
          |    CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY value)
          |         AS DOUBLE) AS hi
          |  FROM graft_events_q51)
          |SELECT event_type,
          |       COUNT(*) AS n_events,
          |       CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END)
          |            AS BIGINT) AS n_clipped_low,
          |       CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END)
          |            AS BIGINT) AS n_clipped_high,
          |       CAST(SUM(CAST(floor(least(greatest(value, lo), hi)
          |                           * 1000000) AS BIGINT)) AS BIGINT)
          |         AS clipped_sum_micro
          |FROM graft_events_q51 CROSS JOIN b
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },
    // C16 depth — the grouping() indicator function over CUBE: the bit
    // that tells a report row "this NULL means ALL, not missing data".
    // Null ordering is pinned explicitly (NULLS FIRST) because the
    // engines' ASC defaults differ (Spark nulls first, DuckDB nulls
    // last) — the one place a correct query can still order differently.
    "q52_grouping_id" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem_q52")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |       CAST(grouping(l_returnflag) AS INT) AS g_rf,
          |       CAST(grouping(l_linestatus) AS INT) AS g_ls,
          |       COUNT(*) AS n_items
          |FROM graft_lineitem_q52
          |GROUP BY CUBE(l_returnflag, l_linestatus)
          |ORDER BY g_rf, g_ls,
          |         l_returnflag ASC NULLS FIRST,
          |         l_linestatus ASC NULLS FIRST""".stripMargin)
    },
    // C18/C25 composite — month-over-month growth: the canonical trend
    // report (lag over an exact monthly rollup; first month's growth is
    // NULL, not zero). Growth is one IEEE division of two decimal-exact
    // totals, so the engines agree bit-for-bit.
    "q53_mom_growth" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val monthly = t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate").cast("date"))
          .cast("date").as("month"))
        .agg(usum(col("o_totalprice")).as("total"))
      val w = Window.orderBy("month")
      monthly
        .withColumn("prev_total", lag("total", 1).over(w))
        .withColumn("growth",
          (col("total") - col("prev_total")) / col("prev_total"))
        .select("month", "total", "prev_total", "growth")
        .orderBy("month")
    },
    // C8 — FULL OUTER join: customers active in 1994 vs 1998, keeping the
    // rows that exist on only ONE side (the part inner/left can't
    // express). USING-style key coalescing matches across engines.
    "q54_full_outer" -> { (s, dir) =>
      def yearRev(y: Int, rev: String, n: String) =
        t(s, dir, "orders")
          .filter(year(col("o_orderdate").cast("date")) === y)
          .groupBy("o_custkey")
          .agg(usum(col("o_totalprice")).as(rev), count(lit(1)).as(n))
      yearRev(1994, "rev94", "n94")
        .join(yearRev(1998, "rev98", "n98"), Seq("o_custkey"), "full")
        .filter(col("rev94").isNull || col("rev98").isNull)
        .select("o_custkey", "rev94", "n94", "rev98", "n98")
        .orderBy("o_custkey")
    },
    // C8 — RIGHT outer join (the mirror of q05's left): keep every
    // customer whether or not the order side matches.
    "q55_right_join" -> { (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"), "right")
        .groupBy("c_mktsegment")
        .agg(countDistinct("c_custkey").as("n_cust"),
          count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_mktsegment")
    },
    // C21 depth — keyset-stable PAGINATION (ORDER BY unique key, LIMIT +
    // OFFSET): the read_sql page-through pattern an API consumer issues.
    // Deterministic because the sort key is unique; Spark plans
    // offset+limit as one TakeOrderedAndProject (top-150, skip 100) —
    // no full sort materializes.
    "q56_pagination" -> { (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(100)
        .limit(50)
    },
    // C2/C3 — oracle-checked CSV ROUND TRIP: dump an orders slice to CSV
    // (distributed multi-part write, quoted strings, shortest-repr
    // doubles), read it back through the Sources.csv API with the
    // original schema, aggregate. The oracle computes the same aggregate
    // on the PARQUET directly, so a hash match proves the text round trip
    // is lossless — doubles re-parse bit-identically (Ryu shortest
    // representation), dates survive ISO formatting, quoting survives
    // embedded spaces. DATE (not timestamp) rides through the file: CSV
    // timestamp parsing is timezone-configurable and would couple the
    // result to reader settings a round trip must not depend on.
    "q57_csv_roundtrip" -> { (s, dir) =>
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), to_date(col("o_orderdate")).as("o_date"),
          col("o_orderpriority"))
      val out = roundTripDir(s, dir, "q57")
      // no parallelism floor before the write (round-13 A/B, min-of-4:
      // flat on q57, +0.34 s on q58, +0.45 s on q60): the repartition
      // exchange plus the readback's extra per-file open cost more than
      // the single-task encode it parallelizes at fixture scale; at real
      // scale the write inherits the scan's splits anyway
      base.write.mode("overwrite").option("header", "true").csv(out)
      graft.sources.Sources.csv(s, out, Some(base.schema.toDDL))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          usum(col("o_totalprice")).as("total"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"),
          min("o_date").as("first_date"))
        .orderBy("o_orderstatus")
    },
    // C2/C3 — oracle-checked JSON-lines ROUND TRIP over free text: the
    // documents table's text column carries quotes/newlines/unicode that
    // JSON must escape losslessly. Read back through Sources.json with
    // the original schema; the oracle aggregates the parquet directly.
    "q58_json_roundtrip" -> { (s, dir) =>
      val base = t(s, dir, "documents").select("doc_id", "source", "text")
      val out = roundTripDir(s, dir, "q58")
      base.write.mode("overwrite").json(out)
      graft.sources.Sources.json(s, out, Some(base.schema.toDDL))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("total_chars"),
          countDistinct("doc_id").as("n_ids"))
        .orderBy("source")
    },
    // C2 — oracle-checked ORC ROUND TRIP: the columnar-but-not-parquet
    // source format. lineitem's widest mix of types (int64/int32/double/
    // string/date) rides through an ORC dump and back via Sources.orc
    // (self-describing schema — no DDL passed, the reader must recover
    // types from the file footer alone). DATE not timestamp for the same
    // reader-timezone-independence reason as q57. The oracle aggregates
    // the parquet directly: a hash match proves the ORC writer/reader
    // pair is lossless for every one of these types.
    "q59_orc_roundtrip" -> { (s, dir) =>
      // l_null: a deterministically null-bearing column (lineitem carries
      // no native nulls) — the round trip must preserve ORC null masks,
      // not only values: n_null counts them, sum_null aggregates around
      // them, and both hash-match the oracle computing the same CASE from
      // the parquet directly.
      val base = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"), col("l_linestatus"),
          to_date(col("l_shipdate")).as("l_sdate"),
          when(col("l_linenumber") % 3 === 0, lit(null).cast("double"))
            .otherwise(col("l_discount")).as("l_null"))
      val out = roundTripDir(s, dir, "q59")
      base.write.mode("overwrite").orc(out)
      graft.sources.Sources.orc(s, out)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          usum(col("l_quantity")).as("sum_qty"),
          usum(col("l_extendedprice")).as("sum_price"),
          min("l_orderkey").as("min_key"),
          max("l_linenumber").as("max_line"),
          min("l_sdate").as("first_ship"),
          sum(when(col("l_null").isNull, 1L).otherwise(0L)).as("n_null"),
          usum(col("l_null")).as("sum_null"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    // C2/C6 — oracle-checked PARTITIONED write + PRUNED read: orders
    // written `partitionBy(o_year)` (Hive-style year=... dirs — the
    // standard 100 TB lake layout), read back with a partition-column
    // predicate. The filter must resolve to PartitionFilters (directory
    // pruning — non-matching years are never opened, the scan I/O is cut
    // by the year selectivity BEFORE any row is read); spec-pinned on the
    // physical plan. o_year is cast to INT explicitly: partition values
    // round-trip as directory-name strings and the reader must re-infer
    // the numeric type.
    "q60_partition_pruned" -> { (s, dir) =>
      val base = t(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")).cast("int"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_year")
      val out = roundTripDir(s, dir, "q60")
      base.write.mode("overwrite").partitionBy("o_year").parquet(out)
      s.read.parquet(out)
        .where(col("o_year") >= 1994 && col("o_year") <= 1995)
        .groupBy(col("o_year").cast("int").as("o_year"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          usum(col("o_totalprice")).as("total"),
          max("o_orderkey").as("max_key"))
        .orderBy("o_year", "o_orderstatus")
    },
    // C6/C14 — oracle-checked BUCKETED CO-LOCATED JOIN: both fact tables
    // written `bucketBy(8, joinkey)` + per-file `sortBy` into the shared
    // catalog (external tables on round-trip scratch paths), then joined
    // in a broadcast-disabled session clone. Bucketed scans report
    // HashPartitioning(key, 8) so the sort-merge join needs NO Exchange
    // on either side and NO Sort (one pre-sorted file per bucket via the
    // repartition before write) — the only shuffle in the whole plan is
    // the final 3-group aggregate. This is THE 100 TB repeated-join
    // pattern: pay the shuffle once at layout time, join for free every
    // read after. Zero-exchange-below-the-join is spec-pinned.
    "q61_bucketed_join" -> { (s, dir) =>
      val iso = bucketSession(s)
      val tag = Integer.toHexString(dir.hashCode)
      val (liName, ordName) = (s"graft_q61_li_$tag", s"graft_q61_ord_$tag")
      // Bucket count: 8 at fixture scale (the plan spec pins 8/8), but a
      // production layout sizes buckets to the data — one pre-sorted file
      // per bucket only stays healthy while a bucket fits comfortably in
      // a task (~a few million rows); at 100 TB you'd set this to
      // thousands.
      val buckets = 8
      // Lay the tables out ONCE per (application, fixture dir) — that is
      // the pattern itself: the bucketed layout is a one-time cost
      // amortized over every subsequent join, so only the FIRST
      // invocation pays the two repartition+write shuffles and repeat
      // invocations (bench pass 2, plan specs) measure the read-side
      // join an already-laid-out lake serves. Skipping roundTripDir on
      // reuse also means the generation stays alive until the next real
      // rewrite. Existence re-checked against the catalog in case the
      // memo outlives a dropped table.
      q61Layouts.synchronized {
        val key = (s.sparkContext.applicationId, dir)
        if (!(q61Layouts.contains(key) && iso.catalog.tableExists(liName)
            && iso.catalog.tableExists(ordName))) {
          val out = roundTripDir(s, dir, "q61")
          // maxRecordsPerFile=0 pinned PER WRITE: the outputOrdering
          // trust above is only sound with exactly one file per bucket —
          // a harness-level spark.sql.files.maxRecordsPerFile would roll
          // buckets into interleaved files whose concatenation is
          // unsorted, and the Sort-free SMJ would silently join wrong.
          t(s, dir, "lineitem")
            .select("l_orderkey", "l_quantity", "l_extendedprice",
              "l_discount")
            .repartition(buckets, col("l_orderkey"))
            .write.mode("overwrite").option("path", s"$out/li")
            .option("maxRecordsPerFile", 0)
            .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
            .saveAsTable(liName)
          t(s, dir, "orders")
            .select("o_orderkey", "o_orderstatus")
            .repartition(buckets, col("o_orderkey"))
            .write.mode("overwrite").option("path", s"$out/ord")
            .option("maxRecordsPerFile", 0)
            .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
            .saveAsTable(ordName)
          // belt-and-braces: verify the invariant the plan depends on
          // before any read trusts it (cheap local listing; on a real
          // lake this is one FileSystem.listStatus per table). The
          // invariant is AT MOST one file per bucket id — an EMPTY
          // bucket writes no file at all (normal when the bucket count
          // exceeds the key spread), so
          // requiring exactly `buckets` files would fail a correct
          // layout. A non-local scratch path returns a null listing;
          // the check is advisory belt-and-braces, so skip rather than
          // report a phantom violation.
          Seq(s"$out/li", s"$out/ord").foreach { d =>
            val files = new java.io.File(d).listFiles()
            if (files != null) {
              // bucket id is the `_NNNNN` suffix before the `.c000`
              // write-attempt marker in bucketed part-file names
              val partFiles = files.toSeq
                .filter(_.getName.startsWith("part-"))
              val bucketIds = partFiles
                .flatMap(f => "_(\\d{5})\\.c".r
                  .findFirstMatchIn(f.getName).map(_.group(1)))
              // every part- file must carry a bucket suffix: a
              // NON-bucketed write (the worst violation of the
              // outputOrdering-trust invariant) would otherwise pass
              // this check vacuously with zero matched ids
              require(bucketIds.length == partFiles.length,
                s"q61 layout invariant violated: $d has " +
                  s"${partFiles.length - bucketIds.length} part files " +
                  "without a bucket suffix (non-bucketed write?)")
              require(bucketIds.length <= buckets &&
                  bucketIds.distinct.length == bucketIds.length,
                s"q61 layout invariant violated: $d has " +
                  s"${bucketIds.length} data files " +
                  s"(${bucketIds.length - bucketIds.distinct.length} " +
                  s"duplicate bucket ids) for $buckets buckets " +
                  "(outputOrdering trust requires at most one sorted " +
                  "file per bucket)")
            }
          }
          // The overwrite invalidates the WRITER session's relation
          // cache, not the clone's: without this refresh a rewrite
          // leaves the clone reading the PREVIOUS generation's file
          // listing (whose files roundTripDir has since pruned) and
          // dying with FAILED_READ.FILE_NOT_EXIST.
          iso.catalog.refreshTable(liName)
          iso.catalog.refreshTable(ordName)
          q61Layouts += key
        }
      }
      iso.table(liName)
        .join(iso.table(ordName),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          usum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"),
          usum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus")
    }
  )

  val oracle: Map[String, String] = Map(
    "q41_local_supplier_revenue" ->
      s"""SELECT n_name,
         |       ${oUSum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation   ON s_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01'
         |                                    AND DATE '1996-12-31'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "q42_division_all_brands" ->
      """WITH std AS (
        |  SELECT p_partkey, p_brand FROM part WHERE p_type = 'STANDARD'),
        |universe AS (SELECT COUNT(DISTINCT p_brand) AS total_brands FROM std),
        |per_supp AS (
        |  SELECT l_suppkey AS s_suppkey, COUNT(DISTINCT p_brand) AS n_brands
        |  FROM lineitem JOIN std ON l_partkey = p_partkey
        |  GROUP BY l_suppkey)
        |SELECT p.s_suppkey, s_name, n_brands
        |FROM per_supp p CROSS JOIN universe u
        |JOIN supplier ON p.s_suppkey = supplier.s_suppkey
        |WHERE n_brands = total_brands
        |ORDER BY p.s_suppkey""".stripMargin,
    "q43_month_gapfill" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS prio,
        |         CAST(date_trunc('month', o_orderdate) AS DATE) AS month
        |  FROM orders),
        |b AS (SELECT MIN(month) AS lo, MAX(month) AS hi FROM o),
        |months AS (
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE)
        |           AS month
        |  FROM b),
        |prios AS (SELECT DISTINCT prio FROM o),
        |cnt AS (SELECT prio, month, COUNT(*) AS n_orders
        |        FROM o GROUP BY prio, month)
        |SELECT p.prio, m.month, COALESCE(c.n_orders, 0) AS n_orders
        |FROM prios p CROSS JOIN months m
        |LEFT JOIN cnt c ON c.prio = p.prio AND c.month = m.month
        |ORDER BY p.prio, m.month""".stripMargin,
    "q44_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id,
        |         CAST(date_trunc('week', make_timestamp(epoch_us(ts))) AS DATE)
        |           AS week
        |  FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id)
        |SELECT cohort_week,
        |       CAST(date_diff('day', cohort_week, week) // 7 AS INT) AS offset_w,
        |       COUNT(DISTINCT e.user_id) AS n_users, COUNT(*) AS n_events
        |FROM e JOIN c ON e.user_id = c.user_id
        |GROUP BY cohort_week, offset_w
        |ORDER BY cohort_week, offset_w""".stripMargin,
    "q45_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |  WHERE epoch_us(ts) < 1704153600000000),
        |su AS (SELECT user_id, MIN(us) AS t_signup FROM ev
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |cl AS (SELECT ev.user_id, MIN(us) AS t_click
        |       FROM ev JOIN su ON ev.user_id = su.user_id
        |       WHERE event_type = 'click' AND us > t_signup
        |       GROUP BY ev.user_id),
        |pu AS (SELECT ev.user_id, MIN(us) AS t_purchase
        |       FROM ev JOIN cl ON ev.user_id = cl.user_id
        |       WHERE event_type = 'purchase' AND us > t_click
        |       GROUP BY ev.user_id),
        |stages AS (
        |  SELECT u.user_id,
        |         CASE WHEN t_purchase IS NOT NULL THEN 3
        |              WHEN t_click IS NOT NULL THEN 2
        |              WHEN t_signup IS NOT NULL THEN 1
        |              ELSE 0 END AS stage
        |  FROM (SELECT DISTINCT user_id FROM ev) u
        |  LEFT JOIN su ON u.user_id = su.user_id
        |  LEFT JOIN cl ON u.user_id = cl.user_id
        |  LEFT JOIN pu ON u.user_id = pu.user_id)
        |SELECT stage, COUNT(*) AS n_users
        |FROM stages GROUP BY stage ORDER BY stage""".stripMargin,
    "q46_string_agg" ->
      """SELECT o_orderstatus AS status,
        |       string_agg(DISTINCT o_orderpriority, ','
        |                  ORDER BY o_orderpriority) AS priorities,
        |       COUNT(DISTINCT o_orderpriority) AS n_priorities
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,
    "q47_set_ops_all" ->
      """SELECT o_custkey, COUNT(*) AS multiplicity FROM (
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |   INTERSECT ALL
        |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |) GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q48_not_in_nulls" ->
      """SELECT
        |  (SELECT COUNT(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                           WHERE o_orderstatus = 'P')) AS n_not_in,
        |  (SELECT COUNT(*) FROM customer
        |   WHERE c_custkey NOT IN (
        |     SELECT CASE WHEN o_totalprice > 200000 THEN NULL
        |                 ELSE o_custkey END
        |     FROM orders WHERE o_orderstatus = 'P')) AS n_not_in_nullset,
        |  (SELECT COUNT(*) FROM customer
        |   WHERE c_custkey IN (
        |     SELECT CASE WHEN o_totalprice > 200000 THEN NULL
        |                 ELSE o_custkey END
        |     FROM orders WHERE o_orderstatus = 'P')) AS n_in_nullset""".stripMargin,
    "q49_recursive_cte" ->
      """WITH RECURSIVE chain (start_key, cur, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer
        |  UNION ALL
        |  SELECT start_key, cur // 2, depth + 1 FROM chain WHERE cur > 1
        |)
        |SELECT d.root_depth,
        |       COUNT(*) AS n_cust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE)
        |         AS bal_total
        |FROM (SELECT start_key, MAX(depth) AS root_depth
        |      FROM chain GROUP BY start_key) d
        |JOIN customer ON d.start_key = c_custkey
        |GROUP BY d.root_depth ORDER BY d.root_depth""".stripMargin,
    "q50_bit_flags" ->
      """WITH u AS (
        |  SELECT user_id,
        |         bit_or(CAST(1 AS BIGINT) << (CASE event_type
        |                  WHEN 'click' THEN 0
        |                  WHEN 'error' THEN 1
        |                  WHEN 'purchase' THEN 2
        |                  WHEN 'signup' THEN 3
        |                  ELSE 4 END)) AS mask
        |  FROM events WHERE event_id % 7 = 0 GROUP BY user_id)
        |SELECT mask, CAST(bit_count(mask) AS INT) AS n_types,
        |       COUNT(*) AS n_users
        |FROM u GROUP BY mask ORDER BY mask""".stripMargin,
    "q51_winsorize" ->
      """WITH b AS (
        |  SELECT
        |    CAST(quantile_disc(value, 0.01) AS DOUBLE) AS lo,
        |    CAST(quantile_disc(value, 0.99) AS DOUBLE) AS hi
        |  FROM events)
        |SELECT event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_clipped_low,
        |       CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_clipped_high,
        |       CAST(SUM(CAST(floor(least(greatest(value, lo), hi)
        |                           * 1000000) AS BIGINT)) AS BIGINT)
        |         AS clipped_sum_micro
        |FROM events CROSS JOIN b
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q52_grouping_id" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(grouping(l_returnflag) AS INT) AS g_rf,
        |       CAST(grouping(l_linestatus) AS INT) AS g_ls,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls,
        |         l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin,
    "q53_mom_growth" ->
      s"""WITH m AS (
         |  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE))
         |              AS DATE) AS month,
         |         ${oUSum("o_totalprice")} AS total
         |  FROM orders GROUP BY month)
         |SELECT month, total,
         |       lag(total, 1) OVER (ORDER BY month) AS prev_total,
         |       (total - lag(total, 1) OVER (ORDER BY month))
         |         / lag(total, 1) OVER (ORDER BY month) AS growth
         |FROM m ORDER BY month""".stripMargin,
    "q54_full_outer" ->
      s"""WITH y94 AS (
         |  SELECT o_custkey, ${oUSum("o_totalprice")} AS rev94,
         |         COUNT(*) AS n94
         |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1994
         |  GROUP BY o_custkey),
         |y98 AS (
         |  SELECT o_custkey, ${oUSum("o_totalprice")} AS rev98,
         |         COUNT(*) AS n98
         |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1998
         |  GROUP BY o_custkey)
         |SELECT o_custkey, rev94, n94, rev98, n98
         |FROM y94 FULL OUTER JOIN y98 USING (o_custkey)
         |WHERE rev94 IS NULL OR rev98 IS NULL
         |ORDER BY o_custkey""".stripMargin,
    "q55_right_join" ->
      """SELECT c_mktsegment,
        |       COUNT(DISTINCT c_custkey) AS n_cust,
        |       COUNT(o_orderkey) AS n_orders
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q56_pagination" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey
        |LIMIT 50 OFFSET 100""".stripMargin,
    // the oracle reads the PARQUET: equality proves the Spark-side CSV
    // round trip lost nothing
    "q57_csv_roundtrip" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |       ${oUSum("o_totalprice")} AS total,
         |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
         |       MIN(CAST(o_orderdate AS DATE)) AS first_date
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q58_json_roundtrip" ->
      """SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
        |       COUNT(DISTINCT doc_id) AS n_ids
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q59_orc_roundtrip" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |       ${oUSum("l_quantity")} AS sum_qty,
         |       ${oUSum("l_extendedprice")} AS sum_price,
         |       MIN(l_orderkey) AS min_key,
         |       MAX(l_linenumber) AS max_line,
         |       MIN(CAST(l_shipdate AS DATE)) AS first_ship,
         |       CAST(SUM(CASE WHEN l_linenumber % 3 = 0 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_null,
         |       ${oUSum("CASE WHEN l_linenumber % 3 = 0 THEN NULL " +
                "ELSE l_discount END")} AS sum_null
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q60_partition_pruned" ->
      s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderstatus,
         |       COUNT(*) AS n,
         |       ${oUSum("o_totalprice")} AS total,
         |       MAX(o_orderkey) AS max_key
         |FROM orders
         |WHERE year(o_orderdate) BETWEEN 1994 AND 1995
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q61_bucketed_join" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |       ${oUSum("l_extendedprice * (1 - l_discount)")} AS revenue,
         |       ${oUSum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  )
}
