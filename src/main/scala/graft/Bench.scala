package graft
import org.apache.spark.sql.SparkSession

/** Opt-in (SPARK_GRAFT_METRICS=1) per-query task-metrics accumulator:
  * answers "how many bytes did this query actually shuffle/spill/scan"
  * with executor-reported numbers instead of plan-shape reasoning. The
  * scale argument for every operator ("no shuffle becomes the bottleneck
  * at 100×") is only as good as measured shuffle growth across SFs —
  * this is the instrument that measures it (see SCALING.md).
  *
  * LongAdder per counter: onTaskEnd fires on listener-bus threads
  * concurrent with the driver; sums are snapshotted between queries, so
  * per-query deltas only need monotonicity, not a consistent cut.
  */
private[graft] class TaskMetricsListener
    extends org.apache.spark.scheduler.SparkListener {
  import java.util.concurrent.atomic.{LongAccumulator, LongAdder}
  private val counters = Array.fill(8)(new LongAdder)
  // per-task peak execution memory is only meaningful as a MAX (the old
  // cross-task LongAdder sum was dead weight); getThenReset gives each
  // query window its own high-water mark
  private val peakTask = new LongAccumulator(Math.max(_, _), 0L)
  override def onTaskEnd(
      te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      counters(0).add(m.shuffleReadMetrics.totalBytesRead)
      counters(1).add(m.shuffleWriteMetrics.bytesWritten)
      counters(2).add(m.memoryBytesSpilled)
      counters(3).add(m.diskBytesSpilled)
      counters(4).add(m.inputMetrics.bytesRead)
      counters(5).add(m.executorCpuTime)
      peakTask.accumulate(m.peakExecutionMemory)
      counters(7).add(1L)
    }
  }
  /** (shuffleRead, shuffleWrite, spillMem, spillDisk, input, cpuNs,
    * unused, tasks) — cumulative since registration.
    */
  def snapshot(): Array[Long] = counters.map(_.sum())
  /** Largest single-task peakExecutionMemory since the last call. */
  def peakTaskMemSinceReset(): Long = peakTask.getThenReset()
}

object Bench {
  /** Per-query minimum across timed passes, over SUCCESSFUL runs only: a
    * failed run's elapsed time is how fast the error was thrown, not a
    * measurement, and must not shadow a successful pass's real time. A
    * query that failed every pass keeps its (loud, #fail-marked) elapsed
    * time. Each pass is `(name, seconds, failed)` in battery order; output
    * keeps pass-1 order.
    */
  private[graft] def minOverPasses(
      passResults: Seq[Seq[(String, Double, Boolean)]]): Seq[(String, Double)] =
    passResults.head.map(_._1).map { n =>
      val runs = passResults.map(_.collectFirst { case (`n`, v, f) => (v, f) }.get)
      val ok = runs.collect { case (v, false) => v }
      n -> (if (ok.nonEmpty) ok.min else runs.map(_._1).min)
    }

  /** Queries that failed EVERY pass — their "time" above is how fast the
    * error threw, not a measurement. Surfaced as a `fails` key in the
    * machine-parsed JSON line: the per-query `#fail` prints land hundreds
    * of lines before the driver's ~2000-char tail window, so without this
    * a battery-wide breakage reads as a LOWER total (the round-6 failure
    * mode, at the driver interface this time).
    */
  private[graft] def allFailed(
      passResults: Seq[Seq[(String, Double, Boolean)]]): Seq[String] =
    passResults.head.map(_._1).filter { n =>
      passResults.forall(_.collectFirst { case (`n`, _, f) => f }.get)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // UTC pinned HERE, not only via build.sbt's -D flag: Q.epochUs's
      // NTZ→TIMESTAMP arm makes events semantics timezone-dependent, and
      // a spark-submit launch (no sbt javaOptions) on a non-UTC host
      // would otherwise time a different row set than Verify checks
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    // Optional extra confs for experiments: SPARK_GRAFT_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up JVM/codegen/parquet-reader paths once so the first measured
    // query isn't charged several seconds of session startup.
    locally {
      import org.apache.spark.sql.functions.col
      spark.range(100000).groupBy((col("id") % 7).as("k")).count().count()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    }
    // Local-iteration helper: SPARK_GRAFT_ONLY=q01,d21 times a subset
    // (driver never sets it, so the per-round bench is unaffected).
    // PREFIX match, same semantics as Verify — exact matching here used
    // to silently time zero queries when given a Verify-style prefix.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val included = only match {
      case Some(names) =>
        val sel = SparkEntry.queries.filter(kv => names.exists(kv._1.startsWith))
        if (sel.isEmpty)
          System.err.println(
            s"[bench] SPARK_GRAFT_ONLY matched no queries: ${names.mkString(",")}")
        sel
      case None => SparkEntry.queries
    }
    // SPARK_GRAFT_SKIP=d51,d02 (prefix match): scale-experiment
    // exclusion for queries whose transient shuffle+spill exceeds the
    // box at the target SF (the driver never sets it); skipped names
    // are printed so a truncated battery can never read as a full one.
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val selected =
      if (skip.isEmpty) included
      else {
        val dropped = included.keys.filter(n => skip.exists(n.startsWith)).toSeq.sorted
        if (dropped.nonEmpty)
          System.err.println(
            s"[bench] SPARK_GRAFT_SKIP excludes: ${dropped.mkString(",")}")
        // a typo'd token must be loud (it silently "excluded" nothing),
        // and a skip set that empties the battery must fail, not print a
        // green-looking zero-query summary
        val unmatched = skip.filterNot(t => included.keys.exists(_.startsWith(t)))
        if (unmatched.nonEmpty)
          System.err.println(s"[bench] SPARK_GRAFT_SKIP tokens matched no " +
            s"query: ${unmatched.toSeq.sorted.mkString(",")}")
        included.filter(kv => !skip.exists(kv._1.startsWith))
      }
    require(selected.nonEmpty,
      "SPARK_GRAFT_ONLY/SPARK_GRAFT_SKIP left zero queries to run")
    // Steady-state warmup: run the whole battery once at the smallest
    // fixture so each query's generated code is JIT-compiled before the
    // timed loop (measured: first call of the dedup pipelines costs ~2x
    // their steady state purely in codegen/JIT). Plan-handle memos are
    // keyed by dir, so nothing computed here leaks into the measured sf.
    locally {
      // Default warm fixture is sf0.01, not sf0.001: at the tiny fixture
      // AQE plans every join as a broadcast, so the generated code the
      // warmup JIT-compiles is NOT the SMJ/shuffle-agg code the measured
      // run executes at sf1+. Measured (round 13, sf10, slow boot):
      // sf0.001 warm → pass 1 947 s (d51 169 s, d07 72 s — first-execution
      // interpreted/C1 cost on the at-scale codegen classes); sf0.01 warm
      // → pass 1 771 s, min-of-2 423 → 351 s. The bigger warm fixture
      // exercises the same plan FAMILY the measured scale uses and costs
      // ~1 min untimed.
      val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
      // never warm with the measured dir itself: Q.memo keys by dir, so a
      // same-dir warmup would prebuild every persisted intermediate and
      // the timed loop would measure cache hits
      val sameDir = new java.io.File(warmDir).getCanonicalPath ==
        new java.io.File(sfDir).getCanonicalPath
      if (new java.io.File(warmDir).isDirectory && !sameDir &&
          !sys.env.contains("SPARK_GRAFT_NO_WARM"))
        selected.toSeq.sortBy(_._1).foreach { case (_, fn) =>
          // same full-plan forcing as the timed loop, so the warmed
          // codegen paths are the ones actually measured; same lifecycle
          // too (scratch drain + shuffle clean), so warmup leaves no
          // dead shuffle files or kernel broadcasts behind
          try {
            val r = fn(spark, warmDir).queryExecution.toRdd
            r.foreachPartition(it => while (it.hasNext) { it.next(); () })
            graft.queries.Q.drainScratch(spark)
            r.cleanShuffleDependencies(blocking = false)
          } catch { case _: Throwable =>
            graft.queries.Q.drainScratch(spark); ()
          }
        }
      // Warm the OS page cache for the MEASURED dir's parquet bytes (a
      // fresh container otherwise charges cold device reads to whichever
      // query first touches each table — measured at 2-3x on first boot).
      // Plain byte reads: no Spark state, no plan caches, just the page
      // cache the queries would populate anyway.
      if (!sys.env.contains("SPARK_GRAFT_NO_WARM")) {
        val buf = new Array[Byte](1 << 20) // O(1) heap — readAllBytes
        // would allocate whole multi-GB files (and >2GB files throw)
        Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
          .foreach { f =>
            try {
              val in = new java.io.FileInputStream(f)
              try { while (in.read(buf) >= 0) () } finally in.close()
            } catch { case _: Throwable => () }
          }
      }
    }
    // Compile settle: each query (warmup AND timed — sf0.1 plans can
    // differ from the sf0.001 warmup's under AQE) enqueues generated-class
    // compilations; when the timed loop runs while the C2 queue is
    // saturated, hot queries execute their biggest generated methods at
    // interpreter/C1 tier for tens of seconds (round 6: q15 2.2s solo vs
    // 63s mid-battery, jstack showed the decimal expand-agg at low tier
    // with C2 threads pegged — and the slow block MOVES between runs with
    // whatever query is unlucky enough to follow the backlog). settle()
    // polls accumulated JIT time until its growth over a 1s window drops
    // under a ~10% duty cycle, bounded so a pathological queue can't
    // stall the bench. Called before the timed loop (long bound) and
    // between timed queries (short bound) — inter-query settle time is
    // OUTSIDE the measured window, so per-query numbers are steady-state
    // JIT-drained times, comparable across battery positions and rounds.
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    // 250ms poll windows with a proportional threshold (<10% compile duty
    // cycle), not 1s: the window is pure untimed idle when the C2 queue is
    // already drained, and at 119 queries × 2 passes an unconditional 1s
    // first window alone added ~4 min of wall-clock per bench run.
    def settle(maxSec: Int): Unit =
      if (jitBean != null && jitBean.isCompilationTimeMonitoringSupported) {
        val deadline = System.nanoTime() + maxSec * 1000000000L
        var prev = jitBean.getTotalCompilationTime
        var settled = false
        while (!settled && System.nanoTime() < deadline) {
          Thread.sleep(250)
          val now = jitBean.getTotalCompilationTime
          settled = now - prev < 25 // <25ms compile work in the last 250ms
          prev = now
        }
      }
    if (!sys.env.contains("SPARK_GRAFT_NO_WARM")) settle(90)
    // Sorted execution order: deterministic across runs, so shared-cache
    // cold costs (e.g. the dedup shingle table) always land on the same
    // query and per-query times stay comparable round over round.
    //
    // Timing forces the query's OWN optimized plan via toRdd (all columns
    // computed), not df.count(): count() re-optimizes with the count on
    // top and Catalyst prunes every unreferenced column — d04's entire
    // simhash computation collapsed to a distinct-doc count and timed 15x
    // faster than the work a real consumer (e.g. Verify's parquet write)
    // pays. toRdd measures what the query actually produces.
    // SPARK_GRAFT_DIAG=1: per-query JIT/GC-time deltas on stderr — the
    // instrument that separates "the plan is slow" from "the JVM was busy
    // compiling/collecting under this query" when a battery time spikes.
    val diag = sys.env.contains("SPARK_GRAFT_DIAG")
    // SPARK_GRAFT_METRICS=1: per-query executor task metrics as #metrics
    // stderr lines (shuffle read/write, spill, scan input, CPU, tasks).
    // Listener events are asynchronous, so each delta is taken outside
    // the timed window after a bus drain — reflection on the
    // private[spark] LiveListenerBus.waitUntilEmpty (public at bytecode
    // level), with a bounded sleep fallback if the internals move.
    val metricsListener = sys.env.get("SPARK_GRAFT_METRICS")
      .filter(_ == "1").map { _ =>
        val l = new TaskMetricsListener
        spark.sparkContext.addSparkListener(l)
        l
      }
    def drainBus(): Unit =
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
        ()
      } catch { case _: Throwable => Thread.sleep(200) }
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // Shared-memo builds as their own pseudo-query: the documents-pipeline
    // memos (shingles, gram table, source mask, …) are built once per
    // fixture and charged to whichever consumer runs first, so per-query
    // bench deltas on shared-memo queries confounded plan regressions
    // with build attribution (round 11: d27 read as a 1.91× regression
    // that was really the shared hashSourceMask build landing on it).
    // `a00_shared_builds` sorts before every real query, flows through
    // the same timing/metrics machinery, and prints a per-memo `#shared`
    // breakdown — real queries then time against warm shared state.
    val warmShared = selected.keys
      .exists(n => graft.queries.DedupQueries.sharedMemoConsumers
        .exists(n.startsWith))
    val sharedEntry: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      if (!warmShared) Nil
      else Seq("a00_shared_builds" -> { (s: SparkSession, d: String) =>
        graft.queries.DedupQueries.warmSharedMemos(s, d).foreach {
          case (n, sec) =>
            System.err.println(f"#shared $n%-20s sec=$sec%.3f")
        }
        s.range(0).toDF()
      })
    // Where Spark actually writes shuffle/spill scratch (for the backstop
    // disk check): SPARK_LOCAL_DIRS env > spark.local.dir conf >
    // java.io.tmpdir — the same precedence Utils.getConfiguredLocalDirs
    // uses in local mode. First entry of a comma list is representative
    // (all entries share the failure mode that matters here).
    val shuffleScratchDir = sys.env.get("SPARK_LOCAL_DIRS")
      .orElse(spark.conf.getOption("spark.local.dir"))
      .map(_.split(",").head.trim)
      .filter(_.nonEmpty)
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
    var lastNudge = Long.MinValue / 2
    var nudges = 0L
    var scratchReleased = 0L
    def runPass(): Seq[(String, Double, Boolean)] =
      (sharedEntry ++ selected.toSeq.sortBy(_._1)).map { case (name, fn) =>
        settle(10) // drain the previous query's compile backlog (untimed)
        val m0 = metricsListener.map { l => drainBus(); l.snapshot() }
        val (jit0, gc0) =
          (if (jitBean != null) jitBean.getTotalCompilationTime else 0L, gcMs)
        val t0 = System.nanoTime()
        var failed: Option[String] = None
        var rdd: Option[org.apache.spark.rdd.RDD[_]] = None
        // label the query's jobs (guide §1.5) so event-log/UI stages
        // attribute to their query — no effect on the timed work itself
        spark.sparkContext.setJobDescription(name)
        try {
          val r = fn(spark, sfDir).queryExecution.toRdd
          rdd = Some(r)
          r.foreachPartition(it => while (it.hasNext) { it.next(); () })
        } catch { case e: Throwable =>
          failed = Some(e.toString.takeWhile(_ != '\n'))
        } finally spark.sparkContext.setJobDescription(null)
        val sec = (System.nanoTime() - t0) / 1e9
        // a failed query must be LOUD (round 6: analysis-broken queries
        // "ran" in 3-100ms and the regression hid in a green-looking total)
        failed.foreach(m => println(s"#fail $name: $m"))
        if (diag) {
          val jd = if (jitBean != null) jitBean.getTotalCompilationTime - jit0 else -1L
          System.err.println(f"#diag $name%-28s ${sec}%8.3fs jit=${jd}ms gc=${gcMs - gc0}ms")
        }
        metricsListener.zip(m0).foreach { case (l, s0) =>
          drainBus()
          val d = l.snapshot().zip(s0).map { case (a, b) => a - b }
          // storage-memory occupancy AFTER the query: in local mode one
          // block manager; used = max - remaining. Rising occupancy
          // across the battery names which queries' persisted frames
          // crowd later queries' execution memory (the d51 in-battery
          // investigation) — a per-query delta would hide the standing
          // level, so this is an absolute gauge, not a delta.
          val storageUsed = spark.sparkContext.getExecutorMemoryStatus
            .values.map { case (max, rem) => max - rem }.sum
          System.err.println(f"#metrics $name%-28s sec=$sec%.3f " +
            s"shufRead=${d(0)} shufWrite=${d(1)} spillMem=${d(2)} " +
            s"spillDisk=${d(3)} input=${d(4)} cpuMs=${d(5) / 1000000L} " +
            s"tasks=${d(7)} gcMs=${gcMs - gc0} " +
            s"peakTaskMem=${l.peakTaskMemSinceReset()} " +
            s"storageUsed=$storageUsed")
        }
        // Deterministic lifecycle (untimed, after the metrics snapshot):
        // (1) release query-scoped scratch — persisted survivor caches
        // and kernel broadcasts registered via Q.registerScratch (e.g.
        // tilePairsQuant's rescore batches) are dead once the result is
        // materialized; (2) delete the completed query's shuffle files
        // via RDD.cleanShuffleDependencies — its recursion stops at
        // persisted RDDs, so shared memos and everything beneath them
        // survive, while the query's OWN exchanges (the files that
        // accumulated to a mid-battery ENOSPC at 1000×, BENCH_SF1 round
        // 12) are removed the moment they are dead instead of whenever
        // the 48 GB heap happens to GC the references.
        scratchReleased += graft.queries.Q.drainScratch(spark)
        try rdd.foreach(_.cleanShuffleDependencies(blocking = true))
        catch { case e: Throwable =>
          System.err.println(s"[bench] shuffle clean failed for $name: $e")
        }
        // Backstop for anything the deterministic path can't reach
        // (construction-time collect shuffles, evicted-memo remnants):
        // rate-limited GC nudge, watching the ACTUAL shuffle scratch
        // volume — Spark resolves local dirs as SPARK_LOCAL_DIRS >
        // spark.local.dir > java.io.tmpdir, so monitor the same path.
        // The per-pass `nudges=` count on stderr is the inertness
        // evidence: with the lifecycle above it should stay 0.
        if (new java.io.File(shuffleScratchDir).getUsableSpace < (32L << 30)
            && System.nanoTime() - lastNudge > 60000000000L) {
          lastNudge = System.nanoTime()
          nudges += 1
          System.gc()
          Thread.sleep(2000)
        }
        (name, sec, failed.isDefined)
      }
    // Two timed passes, per-query MINIMUM. Measured (runs 1-5 this round,
    // identical code): the same battery swings 90s..175s run-to-run, with
    // a CONSECUTIVE block of queries 5-30x slow at a different battery
    // position each run, while per-query JIT and GC deltas stay near zero
    // during the slow block — i.e. transient host/container interference,
    // not plan or JVM-tier behavior (solo reruns of the slow queries are
    // fast). The min across two time-separated passes strips noise windows
    // (they land on different queries in different passes) and reports
    // steady-state capability. Q.reset between passes restores cold
    // memo/persist state so BOTH passes charge shared-table builds to the
    // same queries a single-pass run would — pass 2 is not a warm-cache
    // rerun, it is a clean replay.
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt)
    val passResults = (1 to passes).map { p =>
      if (p > 1) graft.queries.Q.reset(spark)
      val r = runPass()
      System.err.println(
        f"#pass $p/$passes total=${r.map(_._2).sum}%.3fs " +
          s"scratch=$scratchReleased nudges=$nudges")
      r
    }
    val results = minOverPasses(passResults)
    val failed = allFailed(passResults)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val failsJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Full-precision, full-name per-query detail for humans/archaeology.
    // Prefixed so it can never be mistaken for the machine-readable line.
    println(s"""#detail {"metric":"total","value":$total,"unit":"sec","queries":$qs,"fails":$failsJson,"sf":"$sfDir"}""")
    // The driver keeps only the LAST ~2000 chars of output and json-parses
    // the result line from that window (BENCH_r03.json: the 79-query
    // full-precision line is ~2900 chars and got truncated -> parsed:null).
    // So the FINAL line must be compact: short keys ("q01_lineitem_agg" ->
    // "q01", unique across the battery) and 3-decimal seconds keep it
    // ~1k chars for 79 queries. Falls back to full names on prefix clash.
    val shortNames = {
      val prefixes = results.map(_._1.takeWhile(_ != '_'))
      if (prefixes.distinct.length == prefixes.length) prefixes
      else results.map(_._1)
    }
    // Locale.ROOT formatting: the f-interpolator uses the JVM default
    // locale, which renders "0,123" under e.g. LANG=de_DE — invalid JSON.
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val compactQs = shortNames.zip(results).map { case (sk, (_, v)) =>
      s""""$sk":${f3(v)}"""
    }.mkString("{", ",", "}")
    // fails uses the same short names as queries; empty list = all green
    val shortByFull = results.map(_._1).zip(shortNames).toMap
    val compactFails = failed.map(n => "\"" + shortByFull(n) + "\"")
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$compactQs,"fails":$compactFails,"sf":"$sfDir"}""")
    spark.stop()
  }
}
