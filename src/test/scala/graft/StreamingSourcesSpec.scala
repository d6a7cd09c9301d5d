package graft

import java.nio.file.Files
import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.api.{GraftEngine, Webhook}
import graft.sources.Sources
import graft.streaming.StreamingPipelines

/** C2 sources, Structured Streaming pipelines, webhook surface. */
class StreamingSourcesSpec extends SparkSpec {
  import spark.implicits._

  test("csv and json sources round-trip with explicit and inferred schemas") {
    val dir = Files.createTempDirectory("src-")
    Files.write(dir.resolve("d.csv"),
      "id,name,score\n1,a,1.5\n2,b,2.5\n".getBytes(StandardCharsets.UTF_8))
    val csv = Sources.csv(spark, dir.resolve("d.csv").toString,
      Some("id BIGINT, name STRING, score DOUBLE"))
    assert(csv.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 1.5), (2L, "b", 2.5)))
    Files.write(dir.resolve("d.json"),
      """{"id":1,"tags":["x","y"]}
        |{"id":2,"tags":[]}
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val json = Sources.json(spark, dir.resolve("d.json").toString)
    assert(json.select(sum(size(col("tags")))).as[Long].head() == 2L)
  }

  test("streaming windowed aggregation with watermark over a memory stream") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long, Double)]
    val df = ms.toDF().toDF("ts", "user_id", "value")
    val agg = StreamingPipelines.windowedCounts(df, "ts", "10 minutes",
      "5 minutes", "user_id")
    val q = StreamingPipelines.toMemorySink(agg, "win_counts", complete = true)
    try {
      ms.addData(
        (Timestamp.valueOf("2024-01-01 00:01:00"), 1L, 10.0),
        (Timestamp.valueOf("2024-01-01 00:05:00"), 1L, 5.0),
        (Timestamp.valueOf("2024-01-01 00:12:00"), 2L, 1.0))
      q.processAllAvailable()
      val out = spark.table("win_counts")
        .select("user_id", "n", "total").as[(Long, Long, Double)]
        .collect().toSet
      assert(out == Set((1L, 2L, 15.0), (2L, 1L, 1.0)))
    } finally q.stop()
  }

  test("orc source round-trips a frame with pushdown-friendly layout") {
    val dir = Files.createTempDirectory("orc-").resolve("t.orc").toString
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("id", "name", "score").write.orc(dir)
    val back = Sources.orc(spark, dir)
    assert(back.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)))
    // predicate reaches the ORC scan (same pushdown contract as parquet)
    val p = back.filter(col("id") > 1L).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(id,1)"))
  }

  test("session_window streaming agg groups by event-time gaps") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long)]
    val df = ms.toDF().toDF("ts", "user_id")
    val agg = StreamingPipelines.sessionWindowCounts(
      df, "ts", "5 minutes", "10 minutes", "user_id")
    val q = StreamingPipelines.toMemorySink(agg, "sess_counts", complete = true)
    try {
      ms.addData(
        (Timestamp.valueOf("2024-01-01 00:00:00"), 1L), // session A
        (Timestamp.valueOf("2024-01-01 00:03:00"), 1L), // still A (gap 3m)
        (Timestamp.valueOf("2024-01-01 00:20:00"), 1L), // new session B
        (Timestamp.valueOf("2024-01-01 00:01:00"), 2L)) // user 2
      q.processAllAvailable()
      val out = spark.table("sess_counts")
        .select("user_id", "n_events").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(out == Map(1L -> Seq(1L, 2L), 2L -> Seq(1L)))
    } finally q.stop()
  }

  test("lshCandidateStream flags near-dup docs via shared minhash bands") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val out = StreamingPipelines.lshCandidateStream(ms.toDS())
    val q = StreamingPipelines.toMemorySink(out.toDF(), "lsh_cand",
      complete = false)
    try {
      val a = "the quick brown fox jumps over the lazy dog again and again"
      ms.addData((1L, a))
      q.processAllAvailable()
      // doc 2 = exact text of doc 1 (all bands collide); doc 3 disjoint
      ms.addData((2L, a),
        (3L, "completely different words forming another unrelated text body"))
      q.processAllAvailable()
      val rows = spark.table("lsh_cand")
        .as[StreamingPipelines.BucketHit].collect()
      val byDoc = rows.groupBy(_.doc_id)
      assert(byDoc(1L).forall(h => !h.seen_before && h.first_doc == 1L))
      assert(byDoc(2L).length == 4 &&
        byDoc(2L).forall(h => h.seen_before && h.first_doc == 1L))
      assert(byDoc(3L).forall(h => !h.seen_before))
      // batch-vs-stream bucket parity: same text => same 4 band signatures
      assert(graft.functions.TextFunctions.bandSignatures(a).map(_._1) ==
        Seq(0, 1, 2, 3))
    } finally q.stop()
  }

  test("streaming corpus prep: tail documents -> quality filter -> dedup -> catalog sink") {
    import graft.functions.TextFunctions._
    val e = new GraftEngine(spark, freshRoot())
    val src = e.table("docs_in", "w").init(addMonotonicId = "mid")
    src.append(Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", Timestamp.valueOf("2024-01-01 00:00:01")),
      (2L, "the quick brown fox jumps over the lazy dog again and again", Timestamp.valueOf("2024-01-01 00:00:02")), // exact dup of 1
      (3L, "a a a a a a a a a a a a", Timestamp.valueOf("2024-01-01 00:00:03")), // fails diversity
      (4L, "completely different text with many distinct informative tokens here now", Timestamp.valueOf("2024-01-01 00:00:04"))
    ).toDF("doc_id", "text", "ts")); src.flush()
    val dst = e.table("docs_clean", "w")
    val ckpt = Files.createTempDirectory("ckpt-").toString
    val cleaned = StreamingPipelines.dedupStream(
      StreamingPipelines.tailTable(src)
        .withColumn("tk", tokens(col("text")))
        .withColumn("n_tokens", size(col("tk")))
        .withColumn("distinct_ratio",
          size(array_distinct(col("tk"))).cast("double") / col("n_tokens"))
        .filter(col("n_tokens") >= 5 && col("distinct_ratio") >= 0.5)
        .withColumn("content_hash", sha2(col("text"), 256))
        .select("doc_id", "text", "ts", "content_hash"),
      "ts", "10 minutes", "content_hash")
    val q = StreamingPipelines.writeToTable(cleaned, dst, ckpt)
    try {
      q.processAllAvailable()
      val kept = dst.read.select("doc_id").as[Long].collect().toSet
      // doc 2 deduped (same content hash as 1), doc 3 quality-filtered
      assert(kept == Set(1L, 4L))
    } finally q.stop()
  }

  test("stateful dedup + LSH candidate stream run on RocksDB state store") {
    // HDFS-backed state keeps every key on-heap; RocksDB spills to local
    // disk and is the production choice once streaming state outgrows
    // memory. Both state encodings are exercised: dropDuplicates state
    // (dedupStream) and flatMapGroupsWithState user state
    // (lshCandidateStream) — and the progress metrics must prove RocksDB
    // actually held the state. NOTE: the provider conf is session-global;
    // the try/finally swap is safe because suites run sequentially in the
    // forked test JVM (sbt default) — revisit if tests ever parallelize.
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def rocksHeldState(q: org.apache.spark.sql.streaming.StreamingQuery): Boolean = {
      val metrics = q.lastProgress.stateOperators
      metrics.nonEmpty && metrics.exists(_.customMetrics.keySet.asScala
        .exists(_.toLowerCase.contains("rocksdb")))
    }
    try {
      val ms = MemoryStream[(Long, String, Timestamp)]
      ms.addData(
        (1L, "h1", Timestamp.valueOf("2024-01-01 00:00:01")),
        (2L, "h1", Timestamp.valueOf("2024-01-01 00:00:02")), // dup of 1
        (3L, "h3", Timestamp.valueOf("2024-01-01 00:00:03")))
      val cleaned = StreamingPipelines.dedupStream(
        ms.toDF().toDF("doc_id", "content_hash", "ts"),
        "ts", "10 minutes", "content_hash")
      val q = StreamingPipelines.toMemorySink(cleaned, "rocks_dedup",
        complete = false)
      try {
        q.processAllAvailable()
        val kept = spark.table("rocks_dedup")
          .select("doc_id").as[Long].collect().toSet
        assert(kept == Set(1L, 3L))
        assert(rocksHeldState(q))
      } finally q.stop()
      // flatMapGroupsWithState (user-defined state encoding) on RocksDB
      val ms2 = MemoryStream[(Long, String)]
      val out = StreamingPipelines.lshCandidateStream(ms2.toDS())
      val q2 = StreamingPipelines.toMemorySink(out.toDF(), "rocks_lsh",
        complete = false)
      try {
        val a = "the quick brown fox jumps over the lazy dog again and again"
        ms2.addData((1L, a))
        q2.processAllAvailable()
        ms2.addData((2L, a)) // exact text => all bands collide
        q2.processAllAvailable()
        val hits = spark.table("rocks_lsh")
          .select("doc_id").as[Long].collect().toSet
        assert(hits.contains(2L))
        assert(rocksHeldState(q2))
      } finally q2.stop()
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("catalog-to-catalog streaming: tailTable -> transform -> writeToTable") {
    val e = new GraftEngine(spark, freshRoot())
    val src = e.table("src_t", "w").init(addMonotonicId = "mid")
    src.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "value")); src.flush()
    val dst = e.table("dst_t", "w")
    val ckpt = Files.createTempDirectory("ckpt-").toString
    val stream = StreamingPipelines.tailTable(src)
      .withColumn("doubled", col("value") * 2)
    val q = StreamingPipelines.writeToTable(stream, dst, ckpt)
    try {
      q.processAllAvailable()
      assert(dst.read.select("id", "doubled").as[(Long, Double)]
        .collect().toSet == Set((1L, 20.0), (2L, 40.0)))
      // appends to the source become further micro-batches, exactly once —
      // across a compaction, which moves the source to a new version
      src.append(Seq((3L, 30.0)).toDF("id", "value")); src.flush()
      src.compact()
      src.append(Seq((4L, 40.0)).toDF("id", "value")); src.flush()
      q.processAllAvailable()
      assert(dst.read.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L),
        "every source row arrives exactly once")
    } finally q.stop()
  }

  test("tailParquet streams appends from a catalog version dir") {
    val e = new GraftEngine(spark, freshRoot())
    val t = e.table("feed", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    val dir = e.catalog.versionDir("feed", t.getActiveVersion.get).toString
    val stream = StreamingPipelines.tailParquet(spark, dir, "id BIGINT, v STRING")
    assert(stream.isStreaming)
    val q = StreamingPipelines.toMemorySink(
      stream.groupBy().count(), "feed_counts", complete = true)
    try {
      q.processAllAvailable()
      assert(spark.table("feed_counts").as[Long].head() == 1L)
      t.append(Seq((2L, "b")).toDF("id", "v")); t.flush()
      q.processAllAvailable()
      assert(spark.table("feed_counts").as[Long].head() == 2L)
    } finally q.stop()
  }

  test("mapGroupsWithState sessionization accumulates per-key state") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp)]
    val out = StreamingPipelines.sessionize(ms.toDS())
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()
    try {
      ms.addData((1L, Timestamp.valueOf("2024-01-01 00:00:01")),
        (1L, Timestamp.valueOf("2024-01-01 00:00:05")),
        (2L, Timestamp.valueOf("2024-01-01 00:00:02")))
      q.processAllAvailable()
      ms.addData((1L, Timestamp.valueOf("2024-01-01 00:01:00")))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .groupBy("key").agg(max("count").as("count"))
        .as[(Long, Long)].collect().toMap
      assert(rows == Map(1L -> 3L, 2L -> 1L))
    } finally q.stop()
  }

  test("watermarked stream-stream attribution join emits bounded matches") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val joined = StreamingPipelines.attributionJoin(
      clicks.toDF().toDF("user_id", "click_id", "click_ts"),
      purchases.toDF().toDF("user_id", "purchase_id", "purchase_ts"),
      attributionWindow = "30 minutes", watermarkDelay = "10 minutes")
    val q = StreamingPipelines.toMemorySink(joined, "attr",
      org.apache.spark.sql.streaming.OutputMode.Append)
    try {
      clicks.addData(
        (1L, 100L, Timestamp.valueOf("2024-01-01 00:00:00")),
        (1L, 101L, Timestamp.valueOf("2024-01-01 00:10:00")),
        (2L, 102L, Timestamp.valueOf("2024-01-01 00:00:00")))
      purchases.addData(
        (1L, 900L, Timestamp.valueOf("2024-01-01 00:20:00")), // joins 100+101
        (2L, 901L, Timestamp.valueOf("2024-01-01 01:00:00"))) // outside window
      q.processAllAvailable()
      // advance both watermarks far enough to close and emit all matches
      // (disjoint users, so the advancing rows cannot join each other)
      clicks.addData((8L, 999L, Timestamp.valueOf("2024-01-01 03:00:00")))
      purchases.addData((9L, 998L, Timestamp.valueOf("2024-01-01 03:00:00")))
      q.processAllAvailable()
      val out = spark.table("attr")
        .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
      assert(out == Set((100L, 900L), (101L, 900L)))
    } finally q.stop()
  }

  test("stream-static enrichment joins each micro-batch against a dim table") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Double)]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val enriched = StreamingPipelines.enrichWithDim(
      ms.toDF().toDF("user_id", "value"), dim, Seq("user_id"))
    val q = StreamingPipelines.toMemorySink(enriched, "enriched",
      org.apache.spark.sql.streaming.OutputMode.Append)
    try {
      ms.addData((1L, 10.0), (2L, 20.0), (3L, 30.0))
      q.processAllAvailable()
      val out = spark.table("enriched")
        .select("user_id", "tier").as[(Long, Option[String])].collect().toSet
      // unmatched keys survive (left join) with a null tier
      assert(out == Set((1L, Some("gold")), (2L, Some("basic")), (3L, None)))
    } finally q.stop()
  }

  test("webhook ingest + respond_to_request append keyed rows (A30)") {
    val e = new GraftEngine(spark, freshRoot())
    Webhook.ingest(e, "hook", "req-1", """{"x":1}""")
    Webhook.ingest(e, "hook", "req-2", """{"x":2}""")
    Webhook.respondToRequest(e, "hook", "req-1", """{"ok":true}""")
    assert(e.table("hook").read.count() == 2)
    val resp = e.table("hook_responses").read
    assert(resp.count() == 1)
    assert(resp.select(Webhook.requestKeyCol).as[String].head() == "req-1")
  }

  test("graft-table source: cursor offsets drive micro-batches and survive an upsert swap (SURVEY 7.6)") {
    val root = freshRoot()
    val e = new GraftEngine(spark, root)
    val t = e.table("cursor_src", "w").init(uniqueOn = Seq("id"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")); t.flush()
    val stream = spark.readStream
      .format("graft.streaming.GraftTableSourceProvider")
      .option("root", root).option("table", "cursor_src")
      .option("orderBy", "id")
      .load()
    assert(stream.isStreaming)
    val q = StreamingPipelines.toMemorySink(stream, "cursor_rows", complete = false)
    try {
      q.processAllAvailable()
      assert(spark.table("cursor_rows").select("id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L))
      // appends become further micro-batches, exactly once
      t.append(Seq((3L, "c")).toDF("id", "v")); t.flush()
      q.processAllAvailable()
      assert(spark.table("cursor_rows").select("id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // an UPSERT moves the active pointer to a brand-new directory - a
      // file-tailing stream loses its place; the value cursor must pick
      // up exactly the rows whose ordering value advanced past it
      t.upsert(Seq((4L, "d")).toDF("id", "v"))
      q.processAllAvailable()
      assert(spark.table("cursor_rows").select("id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("graft-table source: orderBy defaults through schema roles like asStream") {
    val root = freshRoot()
    val e = new GraftEngine(spark, root)
    val t = e.table("role_src", "w").init(addMonotonicId = "mid")
    t.append(Seq((10L, "x")).toDF("id", "v")); t.flush()
    val stream = spark.readStream
      .format("graft.streaming.GraftTableSourceProvider")
      .option("root", root).option("table", "role_src")
      .load()
    val q = StreamingPipelines.toMemorySink(stream, "role_rows", complete = false)
    try {
      q.processAllAvailable()
      assert(spark.table("role_rows").count() == 1)
      t.append(Seq((11L, "y")).toDF("id", "v")); t.flush()
      q.processAllAvailable()
      // base32 monotonic ids order lexicographically: the new row and
      // ONLY the new row crossed the cursor
      assert(spark.table("role_rows").count() == 2)
    } finally q.stop()
  }

  test("graft-table source: offset high-water persists across restart (no regression after replace)") {
    import graft.streaming.CursorOffset
    val root = freshRoot()
    val e = new GraftEngine(spark, root)
    val t = e.table("hw_src", "w")
    t.append(Seq((5L, "a"), (9L, "b")).toDF("id", "v")); t.flush()
    val provider = new graft.streaming.GraftTableSourceProvider
    // Spark hands createSource a URI-form metadataPath (file:/..., or
    // hdfs:// on a cluster) — the clamp must land INSIDE that checkpoint
    // location, resolved through Hadoop's FileSystem; the round-5 bug
    // resolved it with java.nio.Paths and sprayed literal `file:` dirs
    // under the driver's CWD
    val metaDir = Files.createTempDirectory("hw-meta-")
    val meta = metaDir.toUri.toString.stripSuffix("/") // "file:///tmp/hw-meta-..."
    val params = Map("root" -> root, "table" -> "hw_src", "orderBy" -> "id")
    val ctx = spark.sqlContext
    val s1 = provider.createSource(ctx, meta, None, "graft-table", params)
    def off(s: org.apache.spark.sql.execution.streaming.Source): Option[String] =
      s.getOffset.map(o => CursorOffset.parse(o.json).value)
    val inProcess = graft.catalog.CatalogFileSystem.inProcess.get
    assert(off(s1) == Some("9"))
    assert(graft.catalog.CatalogFileSystem.inProcess.get > inProcess,
      "the clamp's file modes must be set in-process, not by a forked chmod")
    assert(Files.exists(metaDir.resolve("graft-high-water")),
      "high-water must persist inside the URI checkpoint dir")
    assert(!new java.io.File("file:").exists(),
      "no literal 'file:' junk dir may appear under the CWD")
    // table rebuilt with LOWER ordering values, then a RESTARTED source
    // (fresh instance, same metadataPath): the clamp must hold from disk,
    // or appends in the (3, 9] gap would be re-emitted after commit
    t.replace(Seq((3L, "c")).toDF("id", "v"))
    // and a crash between the clamp write's delete and its rename leaves
    // only the complete tmp (and its checksum): the restart reads it
    for (f <- Seq("graft-high-water", ".graft-high-water.crc")
        if Files.exists(metaDir.resolve(f)))
      Files.move(metaDir.resolve(f),
        metaDir.resolve(f.replace("graft-high-water", "graft-high-water.tmp")))
    val s2 = provider.createSource(ctx, meta, None, "graft-table", params)
    assert(off(s2) == Some("9"),
      "restart must not regress below the persisted high water")
    t.append(Seq((12L, "d")).toDF("id", "v")); t.flush()
    assert(off(s2) == Some("12"))
    s1.stop(); s2.stop()
  }

  test("graft-table source: getOffset answers from the manifest - no Spark job per poll") {
    val root = freshRoot()
    val e = new GraftEngine(spark, root)
    val t = e.table("poll_src", "w")
    t.append(Seq((1L, "a"), (7L, "b")).toDF("id", "v")); t.flush()
    val provider = new graft.streaming.GraftTableSourceProvider
    val meta = Files.createTempDirectory("poll-meta-").toUri.toString.stripSuffix("/")
    val params = Map("root" -> root, "table" -> "poll_src", "orderBy" -> "id")
    // explicit schema: source construction itself must not need a scan
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")
    val src = provider.createSource(spark.sqlContext, meta, Some(schema),
      "graft-table", params)
    // positive control first: the job-group mechanism does see real jobs
    spark.sparkContext.setJobGroup("poll-control", "control")
    t.read.count()
    spark.sparkContext.setJobGroup("poll-probe", "probe")
    val o = src.getOffset
    spark.sparkContext.clearJobGroup()
    assert(o.map(x => graft.streaming.CursorOffset.parse(x.json).value) == Some("7"))
    // Listener-bus delivery is async; a fixed sleep flakes under full-suite
    // load. The bus is FIFO, so run a SENTINEL job after the probe window:
    // once the sentinel's job event is visible, every event the probe could
    // have emitted (enqueued earlier) has been delivered.
    spark.sparkContext.setJobGroup("poll-sentinel", "sentinel")
    spark.range(1).count()
    spark.sparkContext.clearJobGroup()
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (tracker.getJobIdsForGroup("poll-sentinel").isEmpty &&
           System.nanoTime() < deadline) Thread.sleep(50)
    assert(tracker.getJobIdsForGroup("poll-sentinel").nonEmpty,
      "sentinel job never became visible — listener bus stalled >30s")
    assert(tracker.getJobIdsForGroup("poll-control").nonEmpty)
    assert(tracker.getJobIdsForGroup("poll-probe").isEmpty,
      "a poll of a committed version must be a manifest lookup, not a scan")
  }

  test("graft-table source: replay of a committed batch pins to the offset's version") {
    import graft.streaming.CursorOffset
    val root = freshRoot()
    val e = new GraftEngine(spark, root)
    val t = e.table("replay_src", "w")
    t.append(Seq((1L, "orig-1"), (2L, "orig-2")).toDF("id", "v")); t.flush()
    val provider = new graft.streaming.GraftTableSourceProvider
    val meta = Files.createTempDirectory("replay-meta-").toUri.toString.stripSuffix("/")
    val params = Map("root" -> root, "table" -> "replay_src", "orderBy" -> "id")
    val src = provider.createSource(spark.sqlContext, meta, None, "graft-table", params)
      .asInstanceOf[graft.streaming.GraftTableSource]
    val end = src.getOffset.get.asInstanceOf[graft.streaming.CursorOffset]
    assert(end.vid.isDefined, "offsets must record the observed version")
    val emitted = src.batchPlan(None, end).select("id", "v")
      .as[(Long, String)].collect().toSet
    assert(emitted == Set((1L, "orig-1"), (2L, "orig-2")))
    // a replace() rewrites the SAME id range with different payloads; a
    // post-restart replay of the committed batch must return the rows as
    // originally emitted (the superseded version is immutable + retained)
    t.replace(Seq((1L, "rewritten-1"), (2L, "rewritten-2")).toDF("id", "v"))
    val replayed = src.batchPlan(None, CursorOffset.parse(end.json))
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(replayed == Set((1L, "orig-1"), (2L, "orig-2")),
      "replay must pin to the version recorded in the offset")
  }

  test("graft-table source soak: upsert/compact/reset churn stays exactly-once") {
    // the V1 Source's contention soak: a RUNNING streaming query while
    // the table churns through every version-swapping mutation the
    // catalog supports — upserts that add fresh id bands, upserts that
    // REWRITE bands already below the cursor (must not re-emit: the
    // value cursor delivers an ordering value once), periodic compact()
    // (active-pointer swap to a consolidated dir), and a mid-soak
    // reset() (active pointer to a fresh NULL version — the high-water
    // clamp must hold across the empty generation). Exactly-once is
    // asserted against a driver-side recomputation of what each round
    // introduced above the cursor.
    val root = freshRoot()
    val e = new GraftEngine(spark, root)
    val t = e.table("soak_churn_src", "w").init(uniqueOn = Seq("id"))
    def band(lo: Long, n: Long, tag: String) =
      spark.range(lo, lo + n).select(col("id"),
        concat(lit(tag), col("id")).as("v"))
    t.append(band(0L, 200L, "r0-")); t.flush()
    val stream = spark.readStream
      .format("graft.streaming.GraftTableSourceProvider")
      .option("root", root).option("table", "soak_churn_src")
      .option("orderBy", "id")
      .load()
    val q = StreamingPipelines.toMemorySink(stream, "soak_rows", complete = false)
    val expected = scala.collection.mutable.Set.empty[Long]
    expected ++= (0L until 200L)
    try {
      q.processAllAvailable()
      var high = 199L
      for (round <- 1 to 24) {
        val fresh = band(high + 1L, 200L, s"r$round-")
        val batch =
          if (round % 2 == 0)
            // rewrite a band 100 ids BELOW the cursor in the same upsert:
            // payload updates of already-delivered ordering values
            fresh.unionByName(band(high - 99L, 50L, s"u$round-"))
          else fresh
        t.upsert(batch)
        expected ++= (high + 1L) to (high + 200L)
        high += 200L
        if (round % 5 == 0) t.compact()
        if (round == 12) {
          // drain BEFORE the reset: the cursor contract covers rows the
          // poll has observed — rows committed and wiped by reset before
          // ANY poll are unrecoverable by a value cursor (same as any
          // CDC-style poller), so delivery of this round's band must not
          // ride on the background trigger racing into the sub-ms window
          // between the upsert's manifest commit and the reset's (the
          // under-load flake this replaced)
          q.processAllAvailable()
          t.reset()
          // rows re-introduced BELOW the high water after the reset are
          // behind the cursor — delivered already, must not re-emit
          t.upsert(band(high - 49L, 50L, "post-reset-"))
        }
        q.processAllAvailable()
      }
      val got = spark.table("soak_rows").select("id").as[Long].collect()
      assert(got.length == got.distinct.length,
        s"duplicate delivery: ${got.length - got.distinct.length} ids emitted twice")
      assert(got.toSet == expected,
        s"delivered ${got.length} ids, expected ${expected.size} " +
          s"(missing=${(expected -- got.toSet).take(5)}, " +
          s"extra=${(got.toSet -- expected).take(5)})")
    } finally q.stop()
  }
}
