package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._

import graft.api.{GraftEngine, State}
import graft.graph.{GraphLoader, GraphRunner}

/** Round-7 hardening: fixes from the adversarial review of the api/
  * catalog/streaming layer — failed-flush buffer retention, incremental
  * footer stamping, init() meta preservation, SQL temp-view scoping,
  * State crash recovery, streaming-source cursor types and lease
  * lifecycle, tailTable bucket-column hygiene.
  */
class Round7HardeningSpec extends SparkSpec {
  import spark.implicits._

  test("failed flush retains the buffer; the retry writes the rows") {
    val e = new GraftEngine(spark, freshRoot())
    val t = e.table("flushfail", "w")
    Round7HardeningSpec.armed.set(true)
    val boom = udf { (id: Long) =>
      if (Round7HardeningSpec.armed.getAndSet(false))
        throw new RuntimeException("injected write failure")
      id
    }
    t.append(Seq(1L, 2L).toDF("id").withColumn("v", boom(col("id"))))
    intercept[Exception] { t.flush() }
    // the buffered append must survive the failure: the retry writes it
    t.flush()
    assert(t.read.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "rows appended before a failed flush must land on the retry")
    // and the buffer is now drained — a third flush is a no-op
    val vCount = t.manifest.versions.size
    t.flush()
    assert(t.manifest.versions.size == vCount)
  }

  test("flush stamps stats incrementally and matches the full recompute") {
    val e = new GraftEngine(spark, freshRoot())
    val t = e.table("incstamp", "w")
    t.append(Seq((1L, "a"), (5L, "b")).toDF("id", "v")); t.flush()
    def info = t.manifest.versions
      .find(_.id == t.manifest.activeVersion.get).get
    assert(info.rowCount.contains(2L))
    assert(info.cursorMax.get("id").contains("5"))
    // second flush: rows accumulate, max advances — only the NEW file's
    // footer is read; the version folds the files' stamps
    t.append(Seq((9L, "c")).toDF("id", "v")); t.flush()
    assert(info.rowCount.contains(3L))
    assert(info.cursorMax.get("id").contains("9"))
    // third flush with a LOWER id: max must not regress
    t.append(Seq((7L, "d")).toDF("id", "v")); t.flush()
    assert(info.rowCount.contains(4L))
    assert(info.cursorMax.get("id").contains("9"))
    // schema evolution: a column first seen mid-version is stamped from
    // the only file that holds it — the files before it lack the column,
    // which leaves its max as it is, exactly what a full recompute says
    t.append(Seq((11L, "e", 100L)).toDF("id", "v", "late")); t.flush()
    assert(info.rowCount.contains(5L))
    assert(info.cursorMax.get("id").contains("11"))
    assert(info.cursorMax.get("late").contains("100"),
      "a column first seen mid-version is stamped as a full recompute stamps it")
  }

  test("appends merge a timestamp's stamped max as an instant; timestamp_ntz stays unstamped") {
    val e = new GraftEngine(spark, freshRoot())
    val t = e.table("tsstamp", "w")
    def batch(id: Long, at: String) = Seq((id, at)).toDF("id", "at").select(col("id"),
      to_timestamp(col("at")).as("ts"), to_timestamp_ntz(col("at")).as("ntz"))
    // INT96, Spark's default, has no usable stats: stamps need INT64
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      t.append(batch(1L, "2026-01-02 03:04:05")); t.flush()
      // a LOWER timestamp: the merged max must not regress
      t.append(batch(2L, "2026-01-01 00:00:00")); t.flush()
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val info = t.manifest.versions.find(_.id == t.manifest.activeVersion.get).get
    assert(info.cursorMax.get("ts").contains("2026-01-02T03:04:05Z"))
    // a local date-time has no instant the offset codec could round-trip
    assert(!info.cursorMax.contains("ntz"))
  }

  test("init() preserves autoIndexes when a later call tweaks other fields") {
    val e = new GraftEngine(spark, freshRoot())
    val t = e.table("metakeep", "w")
    t.init(uniqueOn = Seq("id"), autoIndexes = false)
    assert(!t.manifest.meta.autoIndexes)
    t.init(retentionMillis = 86400000L) // autoIndexes not passed
    assert(!t.manifest.meta.autoIndexes,
      "init() must not reset flags the caller did not pass")
    assert(t.manifest.meta.retentionMillis.contains(86400000L))
    t.init(autoIndexes = true)
    assert(t.manifest.meta.autoIndexes)
  }

  test("sql()/readSql() scope their temp views to the call") {
    val e = new GraftEngine(spark, freshRoot())
    val t = e.table("sqlscope", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    assert(e.sql("SELECT count(*) n FROM sqlscope").as[Long].head() == 1L)
    // the view must NOT survive the call: a later caller on the same
    // SparkSession would resolve this node's stale snapshot instead of
    // failing its own declared-dataflow check
    assert(!spark.catalog.tableExists("sqlscope"),
      "engine.sql must drop its views after analysis")
    assert(t.readSql("SELECT max(id) FROM sqlscope").as[Long].head() == 1L)
    assert(!spark.catalog.tableExists("sqlscope"),
      "readSql must drop its view after analysis")
    // the returned frame stays executable after the view is gone
    val df = e.sql("SELECT id FROM sqlscope WHERE id > 0")
    assert(!spark.catalog.tableExists("sqlscope"))
    assert(df.as[Long].collect().toSeq == Seq(1L))
  }

  test("State recovers from a crash-truncated file via the tmp document") {
    val root = Files.createTempDirectory("state-rec-")
    // simulate the non-atomic-replace crash window: final file truncated,
    // tmp (always completely written before the move) intact
    Files.write(root.resolve("n1.json"),
      """{"k":"OLD","unterminated""".getBytes(StandardCharsets.UTF_8))
    Files.write(root.resolve("n1.json.tmp"),
      """{"k":"NEW"}""".getBytes(StandardCharsets.UTF_8))
    val s = new State(root, "n1")
    assert(s.get("k").contains("NEW"),
      "a truncated state file must recover from the completed tmp")
    // crash BEFORE the move: only tmp exists
    Files.write(root.resolve("n2.json.tmp"),
      """{"k":"TMPONLY"}""".getBytes(StandardCharsets.UTF_8))
    assert(new State(root, "n2").get("k").contains("TMPONLY"))
  }

  test("graft-table source: DATE cursor survives a restart (typed decode)") {
    import graft.streaming.CursorOffset
    val root = freshRoot()
    val e = new GraftEngine(spark, root)
    val t = e.table("date_src", "w")
    t.append(Seq(
      (java.sql.Date.valueOf("2024-01-05"), "a"),
      (java.sql.Date.valueOf("2024-02-01"), "b")).toDF("d", "v"))
    t.flush()
    val provider = new graft.streaming.GraftTableSourceProvider
    val meta = Files.createTempDirectory("date-meta-").toUri.toString
      .stripSuffix("/")
    val params = Map("root" -> root, "table" -> "date_src", "orderBy" -> "d")
    val s1 = provider.createSource(spark.sqlContext, meta, None,
      "graft-table", params)
    def off(s: org.apache.spark.sql.execution.streaming.Source) =
      s.getOffset.map(o => CursorOffset.parse(o.json).value)
    assert(off(s1) == Some("2024-02-01"))
    // RESTART: a fresh instance decodes the persisted high water as a
    // java.sql.Date — before the typed decode it came back as a String and
    // the first clamp compare threw ClassCastException on every trigger
    val s2 = provider.createSource(spark.sqlContext, meta, None,
      "graft-table", params)
    assert(off(s2) == Some("2024-02-01"))
    t.append(Seq((java.sql.Date.valueOf("2024-03-09"), "c")).toDF("d", "v"))
    t.flush()
    assert(off(s2) == Some("2024-03-09"),
      "post-restart polls must keep advancing the date cursor")
  }

  test("graft-table source: replay leases are released, not leaked per batch") {
    val root = freshRoot()
    val e = new GraftEngine(spark, root)
    val t = e.table("lease_src", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    val provider = new graft.streaming.GraftTableSourceProvider
    val meta = Files.createTempDirectory("lease-meta-").toUri.toString
      .stripSuffix("/")
    val params = Map("root" -> root, "table" -> "lease_src", "orderBy" -> "id")
    val src = provider.createSource(spark.sqlContext, meta, None,
      "graft-table", params).asInstanceOf[graft.streaming.GraftTableSource]
    val leaseDir = Paths.get(root, "lease_src", "leases")
    def leases: Long =
      if (!Files.isDirectory(leaseDir)) 0L
      else Files.list(leaseDir).filter(_.toString.endsWith(".lease")).count()
    // several sequential batches: at most ONE live lease (the in-flight
    // batch's pin) — previously every trigger minted a new file, swept
    // only if a retention gc happened to run
    for (i <- 2 to 4) {
      t.append(Seq((i.toLong, s"r$i")).toDF("id", "v")); t.flush()
      val end = src.getOffset.get
      src.batchPlan(None, end).collect()
      assert(leases <= 1L, s"batch $i leaked lease files")
    }
    src.stop()
    assert(leases == 0L, "stop() must release the in-flight lease")
  }

  test("Sources.csv: caller options override the header/inferSchema defaults") {
    val dir = Files.createTempDirectory("csvopt-")
    Files.write(dir.resolve("h.csv"),
      "5,x\n6,y\n".getBytes(StandardCharsets.UTF_8)) // headerless
    val df = graft.sources.Sources.csv(spark, dir.resolve("h.csv").toString,
      schemaDdl = Some("id BIGINT, v STRING"),
      options = Map("header" -> "false"))
    assert(df.count() == 2L,
      "header=false must win over the default, or the first row is eaten")
    assert(df.as[(Long, String)].collect().toSet == Set((5L, "x"), (6L, "y")))
  }

  test("float_dot null elements poison to NULL, matching the HOF formulation") {
    graft.functions.FloatDotProduct.register(spark)
    val df = Seq(1).toDF("i").selectExpr(
      "float_dot(array(CAST(NULL AS FLOAT), 2.0F), array(3.0F, 4.0F)) AS nd",
      "aggregate(zip_with(array(CAST(NULL AS FLOAT), 2.0F), array(3.0F, 4.0F), " +
        "(x, y) -> CAST(x AS DOUBLE) * y), 0D, (s, v) -> s + v) AS hof",
      "float_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS clean")
    val r = df.head()
    assert(r.isNullAt(0), "a null element must poison float_dot to NULL")
    assert(r.isNullAt(1), "HOF reference must agree (zip_with null poisons)")
    assert(r.getDouble(2) == 11.0)
  }

  test("flatten propagates the wrapper's parameters and cron to components") {
    val dir = Files.createTempDirectory("graph-flat-")
    val reg = dir.resolve("components")
    val compDir = reg.resolve("acme").resolve("scaled").resolve("v1")
    Files.createDirectories(compDir)
    Files.write(compDir.resolve("graph.yml"),
      """functions:
        |  - node_file: entry.sql
        |    id: eeeeeeee
        |    inputs:  {in: comp_in}
        |    outputs: {out: mid}
        |    parameters: {scale: 1, kept: "child"}
        |  - node_file: follow.sql
        |    id: gggggggg
        |    inputs:  {in2: mid}
        |    outputs: {out2: comp_out}
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("graph.yml"),
      """functions:
        |  - uses: acme/scaled@v1
        |    id: ffffffff
        |    trigger: "0 9 * * *"
        |    parameters: {scale: 7}
        |    inputs:  {comp_in: raw}
        |    outputs: {comp_out: enriched}
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val g = GraphLoader.load(dir.resolve("graph.yml"), Some(reg))
    val entry = g.functions.find(_.id == "ffffffff/eeeeeeee").get
    val follow = g.functions.find(_.id == "ffffffff/gggggggg").get
    // wrapper parameters reach every child node, use-site wins, child-only
    // keys survive — a {{ params.scale }} template in the child must bind
    assert(entry.parameters == Map("scale" -> 7, "kept" -> "child"))
    assert(follow.parameters == Map("scale" -> 7))
    // the wrapper's cron lands on the ENTRY node (consumes nothing the
    // child produces); the downstream node follows via cascade, not cron
    assert(entry.trigger.contains("0 9 * * *"))
    assert(follow.trigger.isEmpty)
  }

  test("cyclic subgraph references fail with a named error, not StackOverflow") {
    val dir = Files.createTempDirectory("graph-cycle-")
    Files.write(dir.resolve("graph.yml"),
      """functions:
        |  - node_file: graph.yml
        |    id: selfloop
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val err = intercept[IllegalArgumentException] {
      GraphLoader.load(dir.resolve("graph.yml"))
    }
    assert(err.getMessage.contains("cyclic"), err.getMessage)
  }

  test("sql nodes reject multiple outputs loudly instead of writing one") {
    val dir = Files.createTempDirectory("graph-multi-")
    Files.write(dir.resolve("two.sql"),
      "SELECT 1 AS x".getBytes(StandardCharsets.UTF_8))
    val yaml =
      """functions:
        |  - node_file: two.sql
        |    id: bbbbbbbb
        |    outputs: {a: t1, b: t2}
        |""".stripMargin
    val runner = new GraphRunner(spark, GraphLoader.parse(yaml),
      freshRoot(), Some(dir))
    val err = intercept[IllegalArgumentException] { runner.runNode("bbbbbbbb") }
    assert(err.getMessage.contains("exactly one"), err.getMessage)
  }

  test("triggering a webhook node materializes its append table on disk") {
    val yaml =
      """functions:
        |  - webhook: hooked_rows
        |    id: wwwwwwww
        |""".stripMargin
    val root = freshRoot()
    val runner = new GraphRunner(spark, GraphLoader.parse(yaml), root, None)
    runner.runNode("wwwwwwww")
    assert(new graft.catalog.TableCatalog(Paths.get(root)).exists("hooked_rows"),
      "the webhook's same-named table manifest must exist after the trigger")
  }

  test("cascade's maxSteps caps total node runs exactly") {
    val dir = Files.createTempDirectory("graph-steps-")
    Files.write(dir.resolve("pass.sql"),
      "SELECT * FROM {{ src }}".getBytes(StandardCharsets.UTF_8))
    val yaml =
      """functions:
        |  - node_file: producer
        |    id: aaaaaaaa
        |    outputs: {out: s_raw}
        |  - node_file: pass.sql
        |    id: bbbbbbbb
        |    inputs:  {src: s_raw}
        |    outputs: {out: s_copy}
        |""".stripMargin
    val root = freshRoot()
    val runner = new GraphRunner(spark, GraphLoader.parse(yaml), root, Some(dir))
      .register("producer", eng =>
        eng.table("out", "w").append(Seq((1L, "x")).toDF("id", "v")))
    // maxSteps = 0: the triggered node runs, the cascade may run NOTHING —
    // previously a sweep already in flight overshot the bound
    runner.trigger("aaaaaaaa", maxSteps = 0)
    // fresh probe engines: a long-lived probe would serve its cached
    // (pre-write) manifest — the documented refresh() pattern
    assert(!new GraftEngine(spark, root, "p1").table("s_copy").exists,
      "maxSteps=0 must not run any cascaded node")
    runner.trigger("aaaaaaaa", maxSteps = 10)
    // the producer appended twice (once per trigger); the copy sees both
    assert(new GraftEngine(spark, root, "p2").table("s_copy")
      .read.count() == 2)
  }

  test("stream cursor: NULL orderBy values are invisible, never poison the cursor") {
    val root = freshRoot()
    val e = new GraftEngine(spark, root, "nullstream")
    val t = e.table("null_ord", "w")
    t.append(Seq[(java.lang.Long, String)]((null, "ghost"), (1L, "a"), (2L, "b"))
      .toDF("id", "v"))
    t.flush()
    val s = t.asStream(orderBy = "id")
    val got = s.consumeRecords().map(_.getAs[String]("v")).toSeq
    // nulls sort first under asc — consuming one would set cursor = null,
    // silently skipping a and b this run AND replaying everything next run
    assert(got == Seq("a", "b"), s"null-ordered row must be invisible: $got")
    assert(s.position.contains(2L))
    s.checkpoint()
    // restart: persisted cursor is a real value; nothing replays
    val e2 = new GraftEngine(spark, root, "nullstream")
    assert(e2.table("null_ord").asStream(orderBy = "id")
      .consumeRecords().isEmpty)
  }

  test("cron: malformed expressions fail at construction with named errors") {
    import graft.graph.Cron
    for (bad <- Seq("a * * * *", "*/0 * * * *", "99 * * * *",
        "* * 5-40 * *", "1-2-3 * * * *")) {
      val err = intercept[IllegalArgumentException] { Cron(bad) }
      assert(err.getMessage.contains("cron"), s"'$bad': ${err.getMessage}")
    }
    // and the precomputed sets preserve the evaluator's semantics
    val t = java.time.LocalDateTime.of(2026, 8, 14, 9, 30) // a Friday
    assert(Cron("30 9 * * 5").isDue(t))
    assert(Cron("*/15 * * * *").isDue(t))
    assert(!Cron("29 9 * * *").isDue(t))
    assert(Cron("* * 14 * 1").isDue(t), "dom/dow OR rule (dom matches)")
    // never-firing expression: the scan is bounded AND fast (O(1) isDue)
    val t0 = System.nanoTime()
    assert(Cron("0 0 31 2 *").nextFire(t).isEmpty)
    assert((System.nanoTime() - t0) < 5e9, "2.1M-minute scan must be fast")
  }

  test("runDue skips a node with an invalid trigger instead of aborting the tick") {
    val yaml =
      """functions:
        |  - node_file: good
        |    id: aaaaaaaa
        |    trigger: "* * * * *"
        |    outputs: {out: cron_ok}
        |  - node_file: bad
        |    id: bbbbbbbb
        |    trigger: "not a cron * *"
        |    outputs: {out: cron_bad}
        |""".stripMargin
    val runner = new GraphRunner(spark, GraphLoader.parse(yaml), freshRoot(), None)
      .register("good", eng =>
        eng.table("out", "w").append(Seq((1L, "x")).toDF("id", "v")))
      .register("bad", _ => fail("the invalid-trigger node must not run"))
    val ran = runner.runDue(java.time.LocalDateTime.of(2026, 8, 14, 9, 30))
    assert(ran == Seq("aaaaaaaa"),
      "one malformed trigger must not disable the whole graph's scheduling")
  }

  test("State: numeric types survive the persistence round-trip; truncated tmp starts empty") {
    val root = Files.createTempDirectory("state-num-")
    val s = new State(root, "n")
    s.set("f", 0.5f)
    s.set("bd", BigDecimal("3.14"))
    val s2 = new State(root, "n")
    // a Float must come back NUMERIC (as a double), not as the String "0.5"
    assert(s2.get("f").contains(0.5), s2.get("f"))
    assert(s2.get("bd").contains(BigDecimal("3.14")), s2.get("bd"))
    // crash DURING the first-ever tmp write: truncated tmp, no final file —
    // the node starts empty instead of throwing out of the constructor
    Files.write(root.resolve("crashed.json.tmp"),
      """{"k":""".getBytes(StandardCharsets.UTF_8))
    assert(new State(root, "crashed").get("k").isEmpty)
  }

  test("requestNewRun honors triggerDownstream=false and waitAtleastSeconds") {
    val dir = Files.createTempDirectory("graph-rerun-")
    Files.write(dir.resolve("pass.sql"),
      "SELECT * FROM {{ src }}".getBytes(StandardCharsets.UTF_8))
    val yaml =
      """functions:
        |  - node_file: producer
        |    id: aaaaaaaa
        |    outputs: {out: r_raw}
        |  - node_file: pass.sql
        |    id: bbbbbbbb
        |    inputs:  {src: r_raw}
        |    outputs: {out: r_copy}
        |""".stripMargin
    val root = freshRoot()
    var runs = 0
    val runner = new GraphRunner(spark, GraphLoader.parse(yaml), root, Some(dir))
      .register("producer", eng => {
        runs += 1
        if (runs == 1) {
          // write NOTHING: downstream has no events to wake on yet; the
          // requested rerun is the only thing that will write
          eng.state.requestNewRun(triggerDownstream = false,
            waitAtleastSeconds = None)
        } else {
          eng.table("out", "w").append(Seq((runs.toLong, "x")).toDF("id", "v"))
          // the rerun asks for ANOTHER run, an hour out — must stay pending
          if (runs == 2) eng.state.requestNewRun(waitAtleastSeconds = Some(3600L))
        }
      })
    runner.trigger("aaaaaaaa")
    assert(runs == 2,
      "the undelayed rerun executes in the cascade; the 1h-deferred one does not")
    // the rerun WROTE r_raw, but its request said triggerDownstream=false:
    // the consumer must not have fired on those events
    assert(!new GraftEngine(spark, root, "probe").table("r_copy").exists,
      "triggerDownstream=false rerun events must not wake consumers")
  }

  test("tailTable on a bucketed table hides the __bucket layout column") {
    val e = new GraftEngine(spark, freshRoot())
    val t = e.table("buck_tail", "w")
    t.init(uniqueOn = Seq("id"), bucketBy = 2, addMonotonicId = "mid")
    t.upsert(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val stream = graft.streaming.StreamingPipelines.tailTable(t)
    assert(!stream.schema.fieldNames.contains("__bucket"),
      "streaming schema must match table.read (layout column dropped)")
    assert(stream.schema.fieldNames.sorted.toSeq ==
      t.schema.get.fieldNames.sorted.toSeq)
  }
}

object Round7HardeningSpec {
  /** Arms the injected flush failure exactly once (local-mode executors
    * share the JVM, so a static flag reaches the task).
    */
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
