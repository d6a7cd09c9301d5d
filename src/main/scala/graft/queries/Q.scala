package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampType}

/** Shared helpers for the SparkEntry query battery.
  *
  * Oracle-exactness rules (driver hash-compares against DuckDB on the same
  * parquet, see /root/repo/BASELINE.md t2):
  *   - Per-row arithmetic stays in DOUBLE: IEEE-754 ops on identical inputs
  *     are bit-identical across engines.
  *   - Aggregation casts each row to DECIMAL(20,6) first (scale 6 is
  *     load-bearing — see dsum): decimal addition is exact and associative,
  *     so the sum is independent of partition/order — the same value DuckDB
  *     computes single-threaded.
  *   - Final results cast back to DOUBLE so output schemas are plain.
  *   - Every query carries a total ORDER BY (deterministic row set).
  */
object Q {
  /** Read one fixture table of the TPC-H-ish star schema (TESTDATA.md).
    *
    * `events.ts` has shipped under two physical types across fixture
    * generations: parquet TIMESTAMP(NANOS) (read as a LongType of
    * epoch-nanos via `nanosAsLong` — Spark 4 rejects ns timestamps by
    * default, and the ScaleUp fixtures still write int64 nanos) and
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). The engine reads whatever
    * the file gives it — all time arithmetic goes through [[epochUs]],
    * which dispatches on the read schema. `nanosAsLong` stays set: it only
    * affects genuine ns columns and is a no-op for µs files.
    */
  // Per-session plan-handle cache. The values (DataFrames) strongly
  // reference their SparkSession, so entries pin the session for the cache
  // lifetime — a deliberate, bounded leak (one entry per fixture table /
  // derived pipeline, a few dozen handles). Weak/soft indirections were
  // tried and rejected: clearing the map under memory pressure orphans the
  // persist()ed DataFrames it holds (their CacheManager entries stay pinned
  // by the session while the only un-unpersistable handles are gone), which
  // *increases* pressure. A stopped session's entries are freed by
  // clear(session) or process exit.
  private type PlanMap =
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]
  private val planCache =
    new java.util.IdentityHashMap[SparkSession, PlanMap]()

  private def plansFor(spark: SparkSession): PlanMap = planCache.synchronized {
    Option(planCache.get(spark)).getOrElse {
      val m = new PlanMap
      planCache.put(spark, m)
      m
    }
  }

  /** Drop a stopped session's cached handles (frees the session pin). */
  def clear(spark: SparkSession): Unit =
    planCache.synchronized {
      planCache.remove(spark); touchCache.remove(spark)
      scratchQueues.synchronized { scratchQueues.remove(spark) }
      ()
    }

  /** Unpersist every memoized intermediate and drop ALL cached handles for
    * a LIVE session — restores the cold-start state a fresh process would
    * see (modulo JIT/page cache). Bench calls this between timed passes so
    * each pass charges shared-table builds to the same queries a
    * single-pass run would.
    */
  def reset(spark: SparkSession): Unit = {
    drainScratch(spark)
    planCache.synchronized {
      Option(planCache.get(spark)).foreach { m =>
        m.keys.filter(_._2.startsWith("#")).toSeq
          .foreach(k => m.remove(k).foreach(releaseMemo))
      }
      planCache.remove(spark)
      touchCache.remove(spark)
      ()
    }
  }

  /** Fully release a memoized intermediate that no consumer will rebuild
    * FROM again: unpersist the cache, then delete its BUILD shuffles.
    *
    * Why the second step: per-query shuffle cleanup (Bench/Verify call
    * `cleanShuffleDependencies` on each query's executed RDD) deliberately
    * stops at persisted RDDs, so the exchanges BENEATH a shared memo — the
    * gram/shingle build shuffles, tens of GB at 1000× — are never reached
    * while the memo lives (correct: they are its eviction-recompute path).
    * The moment the HANDLE is dropped (LRU eviction in [[pruneLru]], pass
    * reset) those files are dead forever — a later consumer rebuilds a
    * fresh frame with fresh shuffles — yet they previously sat on disk
    * until the ContextCleaner happened to GC the references (the residue
    * the bench's low-disk nudge existed for). Unpersist FIRST: once the
    * storage level is NONE the clean recurses through what was the cache
    * boundary; any persisted ancestor (nested memo still held by the map)
    * still stops the recursion and keeps ITS files.
    */
  private def releaseMemo(df: DataFrame): Unit = {
    df.unpersist(blocking = true)
    try df.queryExecution.toRdd.cleanShuffleDependencies(blocking = false)
    catch { case e: Throwable =>
      Console.err.println(s"[graft] memo shuffle clean failed: $e")
    }
  }

  // ---- query-scoped scratch lifecycle -----------------------------------
  // Kernels that persist() a frame or sparkContext.broadcast() a map whose
  // lifetime must outlive the function that built it (the returned plan
  // references it lazily — e.g. tilePairsQuant's survivor cache and its
  // per-batch rescore broadcasts) register a named cleanup here. The
  // harness (Bench/Verify) drains the queue AFTER each query's result is
  // fully materialized: deterministic release of cached and broadcast
  // blocks instead of waiting for a large heap to GC the dead references
  // (the sf100 dead-shuffle/ENOSPC mechanism, BENCH_SF1 round 12). A
  // caller that never drains degrades exactly to the old
  // ContextCleaner-eventually behavior — the queue holds cleanup thunks,
  // not data, and is bounded by registrations per un-drained query.
  private val scratchQueues =
    new java.util.IdentityHashMap[SparkSession,
      java.util.concurrent.ConcurrentLinkedQueue[(String, () => Unit)]]()

  private[graft] def registerScratch(spark: SparkSession, name: String)(
      cleanup: => Unit): Unit = {
    val q = scratchQueues.synchronized {
      Option(scratchQueues.get(spark)).getOrElse {
        val nq =
          new java.util.concurrent.ConcurrentLinkedQueue[(String, () => Unit)]()
        scratchQueues.put(spark, nq)
        nq
      }
    }
    q.add((name, () => cleanup))
    ()
  }

  /** Run and clear every registered scratch cleanup for the session. Only
    * call AFTER the consuming query's result is materialized — the
    * cleanups unpersist frames and destroy broadcasts an un-executed plan
    * would still need. Returns the number of cleanups run. Each thunk runs
    * under its own try/catch: a failed release must not mask the query's
    * own result.
    */
  private[graft] def drainScratch(spark: SparkSession): Int = {
    val q = scratchQueues.synchronized { Option(scratchQueues.get(spark)) }
    q.fold(0) { queue =>
      var n = 0
      var e = queue.poll()
      while (e != null) {
        try e._2() catch { case ex: Throwable =>
          Console.err.println(s"[graft] scratch release ${e._1} failed: $ex")
        }
        n += 1
        e = queue.poll()
      }
      n
    }
  }

  // LRU clocks for memoized entries (per session, same lifecycle as
  // planCache): memo() stamps every access, eviction walks oldest-first.
  private val touchClock = new java.util.concurrent.atomic.AtomicLong()
  private type TouchMap =
    scala.collection.concurrent.TrieMap[(String, String), Long]
  private val touchCache =
    new java.util.IdentityHashMap[SparkSession, TouchMap]()

  private def touchesFor(spark: SparkSession): TouchMap =
    planCache.synchronized {
      Option(touchCache.get(spark)).getOrElse {
        val m = new TouchMap
        touchCache.put(spark, m)
        m
      }
    }

  /** Storage-pool occupancy above which memo() sheds least-recently-used
    * persisted intermediates BEFORE building a new one. A full battery at
    * big SF otherwise accumulates every shared frame (shingles, grams,
    * tf, components …) until late queries run 10-30× over their solo time
    * from cache-eviction churn and GC pressure (BENCH_SF1 round 5). 0.65
    * leaves execution memory headroom while keeping hot shares resident.
    */
  private val StoragePressureFraction = 0.65

  private def storagePressure(spark: SparkSession): Boolean = {
    val st = spark.sparkContext.getExecutorMemoryStatus.values
    val maxMem = st.map(_._1).sum
    maxMem > 0 &&
      (maxMem - st.map(_._2).sum).toDouble / maxMem > StoragePressureFraction
  }

  /** Evict least-recently-used memoized intermediates while the storage
    * pool stays over [[StoragePressureFraction]]. Blocking unpersist so
    * the pressure check observes each eviction; an evicted entry is only
    * a handle — a later consumer transparently rebuilds (and re-persists)
    * it. Table handles (non-`#` keys) are plan-only, never evicted.
    */
  private def pruneLru(spark: SparkSession, m: PlanMap): Unit = {
    val touches = touchesFor(spark)
    var candidates = m.keySet.filter(_._2.startsWith("#")).toSeq
      .sortBy(k => touches.getOrElse(k, 0L))
    while (candidates.nonEmpty && storagePressure(spark)) {
      val k = candidates.head
      candidates = candidates.tail
      m.remove(k).foreach(releaseMemo)
      touches.remove(k)
    }
  }

  /** Memoize get-or-build WITHOUT computeIfAbsent: builders nest (e.g.
    * nearDupPairs builds docShingles builds t on the same map), and
    * ConcurrentHashMap.computeIfAbsent forbids the mapping function from
    * touching other keys — a nested insert that lands in the outer call's
    * reserved bin throws "Recursive update" (JDK 9+), dependent on the
    * dir string's hash. Build-then-putIfAbsent tolerates nesting; the
    * worst case is one redundant build on a race, with the first-inserted
    * handle winning so all callers still share one DataFrame.
    */
  private def getOrBuild(m: PlanMap, k: (String, String))(
      mk: => DataFrame): DataFrame =
    m.get(k).getOrElse {
      val built = mk
      m.putIfAbsent(k, built).getOrElse(built)
    }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // the query layer leans on the custom kernels (tokens() resolves
    // token_ngrams through the registry); make them available in ANY
    // session, extensions-built or not (once per session, then free)
    graft.GraftExtensions.ensureRegistered(spark)
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Memoize the DataFrame handle (the analyzed plan, NOT the data):
    // repeated queries skip re-listing files and re-reading footers, the
    // same way a catalog would hold a resolved table handle.
    getOrBuild(plansFor(spark), (dir, name))(
      spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Memoize a derived (usually persisted) DataFrame per (session, dir).
    * Needed where CacheManager's canonical-plan dedup can't kick in: a
    * typed mapPartitions embeds a fresh closure object per call, so two
    * builds of the "same" pipeline never canonicalize equal — sharing must
    * happen at the handle level.
    */
  private[queries] def memo(spark: SparkSession, dir: String, key: String)(
      mk: => DataFrame): DataFrame = {
    val m = plansFor(spark)
    val k = (dir, s"#$key")
    touchesFor(spark).put(k, touchClock.incrementAndGet())
    m.get(k).getOrElse {
      // shed cold persisted intermediates before admitting a new one
      pruneLru(spark, m)
      getOrBuild(m, k)(mk)
    }
  }

  /** `events.ts` as exact integer epoch-MICROSECONDS (≡ DuckDB
    * `epoch_us(ts)`), dispatching on the physical type the file was read
    * with (the fixtures have shipped both int64-nanos and timestamp[us]
    * across driver regenerations — a real engine reads what the file
    * gives it, cf. the reference's inferred schema model, node.py:134-135):
    *   - LongType (ns file under `nanosAsLong`, incl. ScaleUp fixtures):
    *     `ts div 1000` — integer floor-division, exact.
    *   - TimestampType / TIMESTAMP_NTZ (µs file): `unix_micros` after a
    *     cast to TIMESTAMP — `unix_micros` rejects NTZ input, and the cast
    *     is exact under the UTC session timezone forced in build.sbt /
    *     Verify / Bench (NTZ wall-clock reinterpreted as UTC instant,
    *     bit-identical µs count; for an already-TIMESTAMP column the cast
    *     is a no-op).
    * µs is the precision both engines share (Spark truncates ns parquet to
    * µs semantics in arithmetic; DuckDB's epoch_us(TIMESTAMP_NS) floors the
    * same way), so cross-engine comparisons stay bit-exact.
    */
  private[graft] def epochUs(df: DataFrame): Column =
    df.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case TimestampType | org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast(TimestampType))
      // fail FAST on a third fixture drift: the catch-all cast would
      // accept e.g. StringType and null out unparseable rows — queries
      // would run and produce wrong/empty results instead of naming the
      // drifted type at the dispatch site (the round-6 lesson)
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other — " +
          "extend Q.epochUs for this fixture generation")
    }

  /** Parallelism FLOOR for kernel/encode stages fed by a narrow scan: the
    * bench fixtures are single-row-group parquet files, so a plain scan
    * plans ONE task and every map-side kernel downstream (sha2, tokenize,
    * contains-probe, file encode) runs on one core of local[32]. Shuffle
    * the rows across [[exchangeWidth]] partitions ONLY when the input is
    * narrower than that same width — a scan that already carries that
    * many splits (a real deployment, the ScaleUp multi-file fixtures)
    * passes through untouched, so no 100 TB run pays an extra
    * full-payload exchange (guide §2.4: don't add shuffles the data
    * doesn't need). Keyed by a caller-chosen (usually unique) column:
    * keyless round-robin repartition would pay its sortBeforeRepartition
    * local sort (SPARK-23207) on every row.
    *
    * `df.rdd.getNumPartitions` only PLANS the frame (no job): for the
    * parquet scans this is a footer-cached bin-packing count.
    */
  private[queries] def spread(df: DataFrame, key: Column): DataFrame = {
    val w = exchangeWidth(df.sparkSession)
    if (df.rdd.getNumPartitions < w) df.repartition(w, key) else df
  }

  /** Width for the engine's explicit keyed exchanges (spread floors, the
    * text-first doc_id repartitions): the session's shuffle-partition
    * sizing — the documented cluster lever — floored at
    * `defaultParallelism` so the single-row-group bench fixtures still
    * spread kernels across every core. A width pinned to core count alone
    * makes per-task payload = corpus/cores, which grows without bound at
    * 100 TB and is invisible to the one sizing knob the repo documents
    * (`repartition(N, col)` ignores `spark.sql.shuffle.partitions`);
    * deriving it from the conf keeps the exchange operator-sizable. Local
    * default is unchanged: Bench/Verify set shuffle.partitions = cpus, so
    * max(cores, conf) = cores there.
    *
    * Embedders must set `spark.sql.shuffle.partitions`: a session that
    * never sets it reads Spark's default of 200, so every explicit
    * exchange here (and every [[spread]] floor) runs 200 partitions wide
    * regardless of core count — set it to the executor core count, or to
    * the cluster's sizing.
    */
  private[queries] def exchangeWidth(s: SparkSession): Int = {
    val p = s.sparkContext.defaultParallelism
    val conf = scala.util.Try(
      s.conf.get("spark.sql.shuffle.partitions").trim.toInt).getOrElse(p)
    math.max(p, conf)
  }

  /** Id-range DECILE bucket: floor(id·10 / (max+1)) against a broadcast
    * 1-row max — map-side integer math, no global row_number, so the
    * bucketing never serializes the frame through one partition. Shared
    * by d50 (novelty curve) and d55 (embedding drift) so their decile
    * boundaries stay comparable; the DuckDB mirror is
    * `(id * 10) // (mx + 1)`.
    */
  private[queries] def withDecileBucket(df: DataFrame, idCol: String): DataFrame = {
    val mx = df.agg(max(idCol).as("mx"))
    df.crossJoin(broadcast(mx))
      .withColumn("bucket", expr(s"($idCol * 10) DIV (mx + 1)"))
      .drop("mx")
  }

  /** Exact, order-independent sum of a money-grade double expression.
    *
    * Scale 6 matters: fixture money columns carry exactly 2 decimals, so any
    * product of up to three of them is an exact 6-decimal value. The double
    * approximation is far closer to that lattice point than half a step, so
    * the cast recovers it exactly in BOTH engines — no rounding-tie (HALF_UP
    * vs binary) divergence, which scale 4 did exhibit.
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(20, 6))).cast("double")

  /** Deterministic average: exact decimal sum, one double division. The
    * empty-group guard matters under Spark 4's default ANSI mode, which
    * throws DIVIDE_BY_ZERO even for doubles: a group whose expression is
    * all-NULL (count 0) must yield NULL like DuckDB's NULL/0, not abort.
    */
  def davg(c: Column): Column = {
    val n = count(c)
    when(n === 0, lit(null).cast("double")).otherwise(dsum(c) / n)
  }

  /** Fixed-point fast path for [[dsum]]: exact micro-unit sum in LONG
    * arithmetic. Per row, `floor(x·1e6 + 0.5)` recovers the 6-decimal
    * lattice integer exactly — the double x sits within ~1e-5 of its
    * lattice point (relative error ≤ 2⁻⁵² on values ≤ 1e11 micro-units),
    * far inside the ±0.5 recovery window, and the same IEEE multiply/
    * add/floor sequence runs in DuckDB ([[oUSum]]) so both engines get
    * identical longs. The long sum is exact and associative (partition-
    * order independent), then ONE long→double conversion + one division
    * — both correctly rounded, bit-identical across engines.
    *
    * vs dsum: floor/multiply/long-add codegen to primitive ops, where the
    * DECIMAL(20,6) path allocates a BigDecimal-backed Decimal per row
    * (precision 20 exceeds the compact-long representation). Measured at
    * sf0.1/local[32]: q01 2.41s -> 0.46s (5.2x), q23 1.76s -> 0.45s
    * (3.9x), oracle hashes matching.
    *
    * Range: a SINGLE long sum of micro-units overflows past 2⁶³ ≈ 9.2e12
    * money units — q14's cube grand-total cell over 540 M sf30 rows HIT
    * that cliff (loudly, under ANSI). So the accumulator is WIDE: each
    * micro-value splits into `hi = u >> 20` (arithmetic shift) and
    * `lo = u & 0xFFFFF`, two plain long sums run in codegen (|hi| ≤ 2⁴³
    * per row and lo < 2²⁰, so Σhi stays in-range until ~1e19 money units
    * and Σlo until ~2⁴³ rows — no realistic corpus reaches either), and
    * ONE per-group DECIMAL(38,0) recombination `Σhi·2²⁰ + Σlo` recovers
    * Σu exactly. The identity `hi·2²⁰ + lo = u` holds for every long in
    * two's complement, and the recombined value depends only on Σu — so
    * the oracle may split with different div/mod conventions and still
    * produce the identical double ([[oUSum]] uses `u & mask` + exact
    * floor division; DuckDB's BIGINT sums widen to HUGEINT).
    */
  def usum(c: Column): Column = {
    val u = floor(c * lit(1000000.0) + lit(0.5))
    val rec = (sum(shiftright(u, 20)).cast(DecimalType(38, 0)) * lit(1048576L)
      + sum(u.bitwiseAND(lit(1048575L))).cast(DecimalType(38, 0)))
    rec.cast("double") / lit(1000000.0)
  }

  /** Deterministic average on the fixed-point path: [[usum]] then one
    * double division, mirrored operation-for-operation by [[oUAvg]].
    * Same ANSI empty-group guard as [[davg]].
    */
  def uavg(c: Column): Column = {
    val n = count(c)
    when(n === 0, lit(null).cast("double")).otherwise(usum(c) / n)
  }

  def oUSum(e: String): String = {
    // lo = u & mask in [0, 2^20); u - lo is an exact multiple of 2^20, so
    // the // floor division is exact under any convention and
    // SUM(hi)*2^20 + SUM(lo) = SUM(u) — DuckDB BIGINT SUM widens to
    // HUGEINT, then one correctly-rounded cast to DOUBLE, identical to
    // Spark's DECIMAL(38,0) recombination cast
    val u = s"CAST(floor(($e) * 1000000 + 0.5) AS BIGINT)"
    s"CAST(SUM(($u - ($u & 1048575)) // 1048576) * 1048576" +
      s" + SUM($u & 1048575) AS DOUBLE) / 1000000"
  }
  def oUAvg(e: String): String = s"(${oUSum(e)}) / COUNT($e)"
}
