package graft

import java.nio.file.Files
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._

import graft.api.{GraftEngine, Table}
import graft.graph.{GraphLoader, GraphRunner}
import graft.streaming.CursorOffset

/** Round-8 hardening: the round-7 ADVICE items — rerun-event absorption
  * scoped to the rerun's own contribution, deferred reruns surviving
  * event-driven runs, flush buffer cleared at the durability point (no
  * duplicate rows on retry after a post-commit failure), the streaming
  * source dropping its superseded lease on EVERY batch — plus the
  * bounded-parallel cascade (independent branches observed overlapping).
  */
class Round8HardeningSpec extends SparkSpec {
  import spark.implicits._

  private def parse(yaml: String) = GraphLoader.parse(yaml)

  test("triggerDownstream=false absorbs only the rerun's own events") {
    // P1 and P2 run in the same sweep; P2's rerun (triggerDownstream =
    // false) writes s2 while P1's s1 event is still unconsumed by C.
    // Absorption must credit C for the s2 delta ONLY — overwriting with
    // the full input count would swallow P1's event and C would never run.
    val yaml =
      """functions:
        |  - node_file: src
        |    id: s0000000
        |    outputs: {oa: s0a, ob: s0b}
        |  - node_file: p1
        |    id: p1000000
        |    inputs: {in: s0a}
        |    outputs: {out: s1}
        |  - node_file: p2
        |    id: p2000000
        |    inputs: {in: s0b}
        |    outputs: {out: s2}
        |  - node_file: cons
        |    id: cc000000
        |    inputs: {a: s1, b: s2}
        |    outputs: {out: res}
        |""".stripMargin
    val root = freshRoot()
    var p2runs = 0
    val runner = new GraphRunner(spark, parse(yaml), root)
      .register("src", eng => {
        eng.table("oa", "w").append(Seq((0L, "seed")).toDF("id", "v"))
        eng.table("ob", "w").append(Seq((0L, "seed")).toDF("id", "v"))
      })
      .register("p1", eng =>
        eng.table("out", "w").append(Seq((1L, "from_p1")).toDF("id", "v")))
      .register("p2", eng => {
        p2runs += 1
        if (p2runs == 1)
          eng.state.requestNewRun(triggerDownstream = false,
            waitAtleastSeconds = None)
        else
          eng.table("out", "w").append(Seq((2L, "from_p2")).toDF("id", "v"))
      })
      .register("cons", eng => {
        val a = eng.table("a").read
        val b = eng.table("b").read
        eng.table("out", "w").append(a.unionByName(b))
      })
    runner.trigger("s0000000")
    assert(p2runs == 2, "the undelayed rerun executes")
    val res = new GraftEngine(spark, root, "probe").table("res")
    assert(res.exists,
      "P1's event must survive P2's triggerDownstream=false absorption")
    assert(res.read.select("v").as[String].collect().sorted.toSeq ==
      Seq("from_p1", "from_p2"),
      "C fires on P1's event and sees both producers' rows")
  }

  test("a not-yet-due deferred rerun survives an event-driven run") {
    val yaml =
      """functions:
        |  - node_file: prod
        |    id: pp000000
        |    outputs: {out: s1}
        |  - node_file: cons
        |    id: nn000000
        |    inputs: {in: s1}
        |    outputs: {out: s2}
        |  - node_file: idle
        |    id: ii000000
        |    outputs: {}
        |""".stripMargin
    val root = freshRoot()
    var prodRuns = 0
    var consRuns = 0
    val armedAt = new java.util.concurrent.atomic.AtomicLong(0L)
    val runner = new GraphRunner(spark, parse(yaml), root)
      .register("prod", eng => {
        prodRuns += 1
        eng.table("out", "w").append(Seq((prodRuns.toLong, "x")).toDF("id", "v"))
      })
      .register("cons", eng => {
        consRuns += 1
        if (consRuns == 1) {
          // the runner stamps the request when this body FINISHES, so
          // this is a lower bound on the stamp — the strict-window
          // guards below measure from here
          armedAt.set(System.currentTimeMillis())
          eng.state.requestNewRun(waitAtleastSeconds = Some(1L))
        }
      })
      .register("idle", _ => ())
    runner.trigger("pp000000")
    assert(consRuns == 1, "first event-driven run; rerun deferred 1s")
    // new events while the rerun is NOT yet due: the event-driven run must
    // not consume (drop) the deferred request. An event-driven run DOES
    // consume a rerun that has become due (one run serves both — correct
    // engine behavior), so under suite load the sweeps below can
    // legitimately straddle the 1 s delay; the strict-sequence asserts run
    // only when the measured elapsed time proves every pre-due sweep
    // happened under 950 ms after armedAt ≤ stamp (i.e. strictly before
    // stamp + 1 s). At-most-once and no-refire stay unconditional.
    def inWindow: Boolean = System.currentTimeMillis() - armedAt.get() < 950
    runner.trigger("pp000000")
    val strict1 = inWindow
    if (strict1) assert(consRuns == 2, "second event-driven run")
    runner.trigger("ii000000")
    val strict2 = inWindow
    if (strict2)
      assert(consRuns == 2, "deferred rerun must not fire before its delay")
    Thread.sleep(1200)
    runner.trigger("ii000000")
    if (strict2)
      assert(consRuns == 3,
        "the deferred rerun fires once due — an earlier event-driven run " +
          "must not have swallowed it")
    else {
      // timing budget blown (suite under load): a pre-sleep sweep may have
      // legitimately consumed the due request — at-most-once must still hold
      System.err.println(s"[round8] deferred-rerun strict window blown " +
        s"(${System.currentTimeMillis() - 1200 - armedAt.get()} ms of " +
        "post-arm sweeps); exactly-once-when-due asserted weakly")
      assert(consRuns >= 2 && consRuns <= 3,
        s"deferred rerun over-fired: consRuns=$consRuns")
    }
    // a satisfied request never re-fires, regardless of timing
    val settled = consRuns
    runner.trigger("ii000000")
    assert(consRuns == settled, "satisfied rerun re-fired")
  }

  test("a rerun request survives a failed attempt (restored, at-least-once)") {
    val yaml =
      """functions:
        |  - node_file: req
        |    id: rr000000
        |    outputs: {out: s1}
        |  - node_file: idle
        |    id: ii000000
        |    outputs: {}
        |""".stripMargin
    val root = freshRoot()
    var runs = 0
    val runner = new GraphRunner(spark, parse(yaml), root)
      .register("req", eng => {
        runs += 1
        // run 1 requests an immediate rerun; run 2 (the rerun attempt)
        // fails — the request must be RESTORED, not dropped with the
        // exception, so the caller's retry gets the requested run 3
        if (runs == 1) eng.state.requestNewRun()
        if (runs == 2) sys.error("transient failure during the rerun")
      })
      .register("idle", _ => ())
    intercept[RuntimeException](runner.trigger("rr000000"))
    assert(runs == 2, "first run + the failed rerun attempt")
    // an unrelated trigger's cascade sweep must see the RESTORED request
    runner.trigger("ii000000")
    assert(runs == 3,
      "the restored rerun request must fire on the next cascade — a " +
        "failed attempt must not silently satisfy it")
    runner.trigger("ii000000")
    assert(runs == 3, "satisfied requests do not re-fire")
  }

  test("cascade confluence: parallel and sequential runs converge (random DAGs)") {
    // For REPLACE-style nodes (output = deterministic function of the full
    // current input state) the cascade is confluent: at quiescence every
    // node has re-run after its inputs' last change, so the final tables
    // are schedule-independent — batch composition, sweep interleaving,
    // and parallelism must not show through. (Append-style nodes are
    // deliberately out of scope: firing on partial upstream progress is
    // legitimate event-driven behavior and changes intermediate — not
    // final — replace-state.)
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(8000 + trial)
      val n = 7
      val inEdges: Seq[Seq[Int]] =
        (0 until n).map(i => (0 until i).filter(_ => rnd.nextBoolean()))
      val yaml = "functions:\n" + (0 until n).map { i =>
        val ins =
          if (inEdges(i).isEmpty) ""
          else s"    inputs: {${inEdges(i).map(j => s"in$j: t$j").mkString(", ")}}\n"
        s"  - node_file: f$i\n    id: aa0000$i$trial\n$ins    outputs: {out: t$i}\n"
      }.mkString
      def build(root: String, par: Int): GraphRunner = {
        val r = new GraphRunner(spark, GraphLoader.parse(yaml), root)
        r.cascadeParallelism = par
        (0 until n).foreach { i =>
          r.register(s"f$i", eng => {
            val inSum = inEdges(i).map { j =>
              scala.util.Try(
                eng.table(s"in$j").read.agg(
                  org.apache.spark.sql.functions.coalesce(
                    org.apache.spark.sql.functions.sum("v"),
                    org.apache.spark.sql.functions.lit(0L)))
                  .head().getLong(0)).getOrElse(0L)
            }.sum
            eng.table("out", "w").replace(
              Seq((i.toLong, i * 1000L + inSum)).toDF("id", "v"))
          })
        }
        r
      }
      val rootSeq = freshRoot(); val rootPar = freshRoot()
      build(rootSeq, 1).runAll()
      build(rootPar, 4).runAll()
      (0 until n).foreach { i =>
        val a = new GraftEngine(spark, rootSeq, "probe").table(s"t$i")
          .read.orderBy("id").collect().toSeq
        val b = new GraftEngine(spark, rootPar, "probe").table(s"t$i")
          .read.orderBy("id").collect().toSeq
        assert(a == b,
          s"trial $trial node $i diverged: seq=$a par=$b (dag=$inEdges)")
      }
    }
  }

  test("independent cascade branches run concurrently") {
    val yaml =
      """functions:
        |  - node_file: src
        |    id: s0000000
        |    outputs: {oa: s0a, ob: s0b}
        |  - node_file: c1
        |    id: c1000000
        |    inputs: {in: s0a}
        |    outputs: {out: o1}
        |  - node_file: c2
        |    id: c2000000
        |    inputs: {in: s0b}
        |    outputs: {out: o2}
        |""".stripMargin
    val root = freshRoot()
    val l1 = new CountDownLatch(1)
    val l2 = new CountDownLatch(1)
    // each branch signals its own latch then waits for the sibling's: the
    // handshake only completes when both bodies are in flight at once
    def body(mine: CountDownLatch, other: CountDownLatch)(eng: GraftEngine): Unit = {
      mine.countDown()
      val overlapped = other.await(15, TimeUnit.SECONDS)
      eng.table("out", "w").append(Seq((1L, overlapped)).toDF("id", "overlapped"))
    }
    val runner = new GraphRunner(spark, parse(yaml), root)
      .register("src", eng => {
        eng.table("oa", "w").append(Seq((0L, "seed")).toDF("id", "v"))
        eng.table("ob", "w").append(Seq((0L, "seed")).toDF("id", "v"))
      })
      .register("c1", body(l1, l2))
      .register("c2", body(l2, l1))
    runner.trigger("s0000000")
    val probe = new GraftEngine(spark, root, "probe")
    for (tbl <- Seq("o1", "o2")) {
      val rows = probe.table(tbl).read.select("overlapped").as[Boolean].collect()
      assert(rows.toSeq == Seq(true),
        s"$tbl: store-disjoint branches must execute concurrently " +
          "(latch handshake timed out — cascade ran them sequentially)")
    }
  }

  test("runDue: store-disjoint cron-due nodes run concurrently") {
    val yaml =
      """functions:
        |  - node_file: c1
        |    id: c1000000
        |    trigger: "5 * * * *"
        |    outputs: {out: o1}
        |  - node_file: c2
        |    id: c2000000
        |    trigger: "5 * * * *"
        |    outputs: {out: o2}
        |""".stripMargin
    val root = freshRoot()
    val l1 = new CountDownLatch(1)
    val l2 = new CountDownLatch(1)
    def body(mine: CountDownLatch, other: CountDownLatch)(eng: GraftEngine): Unit = {
      mine.countDown()
      val overlapped = other.await(15, TimeUnit.SECONDS)
      eng.table("out", "w").append(Seq((1L, overlapped)).toDF("id", "overlapped"))
    }
    val runner = new GraphRunner(spark, parse(yaml), root)
      .register("c1", body(l1, l2))
      .register("c2", body(l2, l1))
    val fired = runner.runDue(java.time.LocalDateTime.of(2026, 8, 14, 9, 5))
    assert(fired.toSet == Set("c1000000", "c2000000"))
    val probe = new GraftEngine(spark, root, "probe")
    for (tbl <- Seq("o1", "o2"))
      assert(probe.table(tbl).read.select("overlapped").as[Boolean]
        .collect().toSeq == Seq(true),
        s"$tbl: due nodes with disjoint stores must run concurrently")
  }

  test("cascade: store-conflicting nodes never overlap (write-write race)") {
    // two eligible consumers APPEND to the same output store: the
    // conflict rule must serialize them (each sweep runs one), and both
    // rows must land exactly once — overlap would race the table lock
    // path and deferral loss would drop a row
    val yaml =
      """functions:
        |  - node_file: src
        |    id: s0000000
        |    outputs: {oa: s0a, ob: s0b}
        |  - node_file: w1
        |    id: w1000000
        |    inputs: {in: s0a}
        |    outputs: {out: shared}
        |  - node_file: w2
        |    id: w2000000
        |    inputs: {in: s0b}
        |    outputs: {out: shared}
        |""".stripMargin
    val root = freshRoot()
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    def writer(tag: String)(eng: GraftEngine): Unit = {
      val now = inFlight.incrementAndGet()
      maxInFlight.updateAndGet(m => math.max(m, now))
      Thread.sleep(150) // widen the overlap window
      eng.table("out", "w").append(Seq((tag, 1L)).toDF("who", "v"))
      inFlight.decrementAndGet()
      ()
    }
    val runner = new GraphRunner(spark, parse(yaml), root)
      .register("src", eng => {
        eng.table("oa", "w").append(Seq((0L, "seed")).toDF("id", "v"))
        eng.table("ob", "w").append(Seq((0L, "seed")).toDF("id", "v"))
      })
      .register("w1", writer("w1"))
      .register("w2", writer("w2"))
    runner.trigger("s0000000")
    assert(maxInFlight.get() == 1,
      "same-output-store nodes must never run concurrently")
    val rows = new GraftEngine(spark, root, "probe").table("shared")
      .read.select("who").as[String].collect().sorted.toSeq
    assert(rows == Seq("w1", "w2"), s"deferred conflicting node lost: $rows")
  }

  test("usum stays exact past the single-long range (wide accumulator)") {
    import graft.queries.Q
    // 300 rows of 8e12 money units = 8e18 micro-units each (exactly
    // double-representable, so the per-row floor is deterministic): a
    // SINGLE long accumulator passes 2^63 ~ 9.22e18 on the second add —
    // q14's sf30 cube grand total hit exactly that. The hi/lo split must
    // deliver the exact total instead of an ARITHMETIC_OVERFLOW abort.
    val big = Seq.fill(300)(8.0e12).toDF("x")
    val v = big.agg(Q.usum(col("x")).as("s")).head().getDouble(0)
    assert(v == 300.0 * 8.0e12, s"wide accumulator drifted: $v")
    // and the legs themselves stay loud if the UNREALISTIC bound is ever
    // crossed: the hi leg still sums in ANSI long arithmetic (no silent
    // wrap anywhere on the path) — documented headroom ~1e19 money units
  }

  test("failed flush: stamp unchanged, buffer kept, retry lands once") {
    val e = new GraftEngine(spark, freshRoot())
    val t = e.table("stampfail", "w")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")); t.flush()
    def activeInfo = e.catalog.activeInfo("stampfail").get
    val committed = activeInfo
    // the hook runs after the Spark write, before the files are registered
    t.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v"))
    Table.postAppendHook = () => throw new RuntimeException("injected failure")
    try intercept[RuntimeException](t.flush())
    finally Table.postAppendHook = () => ()
    // the failed write deleted its own files: no new row is visible, the
    // stamp (files, their stamps, schema) is as committed — a streaming
    // poll neither skips nor sees the batch — and the dir holds exactly
    // the listed files
    assert(t.read.count() == 2, "no row of a failed flush is visible")
    assert(activeInfo == committed, "a failed flush must leave the stamp as it was")
    def onDisk = e.catalog.filesOnDisk("stampfail", committed.id).map(_.path).toSet
    assert(onDisk == committed.files.map(_.path).toSet, "a failed write removes its files")
    // the buffer was kept: the retry writes the batch again, once
    t.flush()
    assert(t.read.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(t.recordCount.contains(4L))
    val listed = activeInfo.files.map(_.path).toSet
    assert(listed.size > committed.files.size, "the retry's files are listed")
    assert(onDisk == listed, "the dir holds exactly the listed files after the retry")
  }

  test("retention churn soak: appends/time-travel/compact/gc interleave") {
    // the round-7 swept-mid-read fix under sustained concurrency instead
    // of a unit pin: a writer churns versions (upsert + append + compact)
    // with a short retention, a reader time-travels into whatever version
    // is currently listed, and a dedicated sweeper hammers gc — for the
    // whole run every read either succeeds or fails LOUDLY with the
    // unknown-version contract; nothing may crash with a filesystem-level
    // error (the bug class the lease protocol exists to prevent), rows
    // must never duplicate or vanish, and no lease files may leak.
    val root = freshRoot()
    val e = new GraftEngine(spark, root)
    val t = e.table("churn", "w")
    t.init(uniqueOn = Seq("id"), retentionMillis = 150L)
    t.upsert(Seq((0L, 0L)).toDF("id", "v"))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong()
    val loudMisses = new java.util.concurrent.atomic.AtomicLong()
    val leaseOverruns = new java.util.concurrent.atomic.AtomicLong()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      val rt = new GraftEngine(spark, root, "reader").table("churn")
      val rnd = new scala.util.Random(8)
      while (!stop.get()) {
        try {
          val vids = rt.manifest.versions.map(_.id)
          if (vids.nonEmpty) {
            val vid = vids(rnd.nextInt(vids.length))
            // TTL far above one tiny count(): once readVersion returns,
            // the lease must hold the version for the whole read
            val t0 = System.currentTimeMillis()
            try {
              rt.readVersion(vid, leaseTtlMillis = 3000L).count()
              reads.incrementAndGet()
            } catch {
              case _: IllegalArgumentException => loudMisses.incrementAndGet()
              case ex: Throwable =>
                // the lease contract only protects reads that finish
                // inside the TTL ("long jobs should size ttlMillis above
                // their expected runtime"); under suite load even this
                // tiny count() can overrun 3 s, and the sweeper then
                // legitimately reclaims the version mid-read. The lease
                // expiry is stamped at acquisition, which happens after
                // t0 — so a failure is a contract violation only when it
                // PROVABLY landed inside the lease window.
                if (System.currentTimeMillis() - t0 <= 3000L) {
                  errors.add(ex); stop.set(true)
                } else leaseOverruns.incrementAndGet()
            }
          }
        } catch {
          case _: IllegalArgumentException => loudMisses.incrementAndGet()
          case ex: Throwable => errors.add(ex); stop.set(true)
        }
      }
    })
    val sweeper = new Thread(() => {
      val cat = new graft.catalog.TableCatalog(java.nio.file.Paths.get(root))
      while (!stop.get()) {
        try { cat.gc("churn", 150L); Thread.sleep(20) }
        catch { case ex: Throwable => errors.add(ex); stop.set(true) }
      }
    })
    reader.start(); sweeper.start()
    try {
      for (i <- 1 to 10) {
        t.upsert(Seq(((i % 5).toLong, i.toLong)).toDF("id", "v"))
        if (i % 3 == 0) { t.append(Seq((100L + i, i.toLong)).toDF("id", "v")); t.flush() }
        if (i % 4 == 0) t.compact()
        Thread.sleep(30)
      }
    } finally {
      stop.set(true); reader.join(20000); sweeper.join(20000)
    }
    assert(errors.isEmpty,
      s"churn surfaced non-contract failures: ${Option(errors.peek())}")
    if (leaseOverruns.get() > 0)
      System.err.println(s"[round8] churn soak: ${leaseOverruns.get()} " +
        "read(s) overran their own 3 s lease under load (excused — outside " +
        "the lease contract)")
    assert(reads.get() > 0, "the soak must complete real time-travel reads")
    // final state: upserts keyed 0..4 hold the LAST write per key, appends
    // are all present exactly once
    val rows = t.read.select("id", "v").as[(Long, Long)].collect().toMap
    assert(rows(1L) == 6L && rows(2L) == 7L && rows(3L) == 8L &&
      rows(4L) == 9L && rows(0L) == 10L, s"keyed state wrong: $rows")
    assert(rows.keys.count(_ >= 100L) == 3, s"appended rows wrong: $rows")
    // after leases lapse, a final sweep leaves only the active version and
    // zero lease files — nothing leaked
    Thread.sleep(3200)
    val cat = new graft.catalog.TableCatalog(java.nio.file.Paths.get(root))
    cat.gc("churn", 150L)
    val m = cat.load("churn").get
    assert(m.versions.map(_.id) == m.activeVersion.toList,
      s"superseded versions survived the final sweep: ${m.versions.map(_.id)}")
    val leaseDir = java.nio.file.Paths.get(root, "churn", "leases")
    val leaseCount =
      if (!Files.isDirectory(leaseDir)) 0L
      else Files.list(leaseDir).filter(_.toString.endsWith(".lease")).count()
    assert(leaseCount == 0L, "lease files leaked past their TTL")
  }

  test("graft-table source: vid-less batch drops the superseded lease") {
    val root = freshRoot()
    val e = new GraftEngine(spark, root)
    val t = e.table("lease_hoist", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    val provider = new graft.streaming.GraftTableSourceProvider
    val meta = Files.createTempDirectory("lease-hoist-meta-").toUri.toString
      .stripSuffix("/")
    val params = Map("root" -> root, "table" -> "lease_hoist", "orderBy" -> "id")
    val src = provider.createSource(spark.sqlContext, meta, None,
      "graft-table", params).asInstanceOf[graft.streaming.GraftTableSource]
    val leaseDir = java.nio.file.Paths.get(root, "lease_hoist", "leases")
    def leases: Long =
      if (!Files.isDirectory(leaseDir)) 0L
      else Files.list(leaseDir).filter(_.toString.endsWith(".lease")).count()
    val end = src.getOffset.get
    src.batchPlan(None, end).collect()
    assert(leases == 1L, "pinned batch holds its replay lease")
    // a legacy offset (no vid) must START by dropping the superseded
    // lease — previously it was retained until the next pinned batch or
    // stop(), keeping retention off a version no longer needed
    val legacy = CursorOffset(CursorOffset.parse(end.json).value, None)
    src.batchPlan(None, legacy).collect()
    assert(leases == 0L,
      "vid-less batch must release the previous batch's lease")
    src.stop()
  }
}
