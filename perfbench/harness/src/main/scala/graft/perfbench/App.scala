package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.api.GraftEngine
import graft.graph.{GraphLoader, GraphRunner}

final case class Event(eventId: Long, userId: Long, kind: String, amount: Long)

/** Input shape of an app workload. Every round replays the same
  * `batches` on a fresh catalog, so rounds are equal work and history
  * grows only within a round.
  */
final case class Shape(batchSize: Int, batches: Int, warmBatches: Int,
    users: Int, zipfS: Double, redeliver: Double)

object EventGen {
  val kinds: Vector[String] = Vector("click", "view", "signup", "purchase", "error")

  /** `shape.batches` batches of `shape.batchSize` events. User ids are
    * Zipf-skewed ranks; a `redeliver` share of events repeats an earlier
    * event (same id, same payload), as a retrying webhook sender would.
    */
  def batches(seed: Long, shape: Shape): Vector[Vector[Event]] = {
    val rng = new java.util.SplittableRandom(seed)
    val weights = (1 to shape.users).map(r => 1.0 / math.pow(r, shape.zipfS))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray
    def user(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, shape.users - 1).toLong
    }
    val sent = mutable.ArrayBuffer.empty[Event]
    var nextId = 0L
    Vector.fill(shape.batches) {
      Vector.fill(shape.batchSize) {
        val e =
          if (sent.nonEmpty && rng.nextDouble() < shape.redeliver) sent(rng.nextInt(sent.size))
          else {
            nextId += 1
            Event(nextId, user(), kinds(rng.nextInt(kinds.size)), rng.nextLong(1L, 100000L))
          }
        sent += e
        e
      }
    }
  }

  /** What the app must end up holding for `events`: one row per id. */
  def distinct(batches: Seq[Seq[Event]]): Map[Long, Event] =
    batches.flatten.groupBy(_.eventId).map { case (k, es) => k -> es.head }

  /** Per-user (count, sum of amount) over distinct events. */
  def totals(events: Iterable[Event]): Map[Long, (Long, Long)] =
    events.groupBy(_.userId).map { case (u, es) => u -> ((es.size.toLong, es.map(_.amount).sum)) }

  /** The 20 largest totals, ties broken by user id. */
  def leaderboard(totals: Map[Long, (Long, Long)]): Seq[(Long, Long, Long)] =
    totals.toSeq.map { case (u, (n, t)) => (u, n, t) }
      .sortBy { case (u, _, t) => (-t, u) }.take(20)
}

/** The `app_trickle` workload: one `graph.yml` app (ingest -> dedup/upsert
  * -> SQL aggregate -> top-k) driven batch by batch through
  * `GraphRunner.trigger`.
  */
object App {
  val trickle = Shape(batchSize = 200, batches = 8, warmBatches = 3,
    users = 2000, zipfS = 1.1, redeliver = 0.03)

  val WebhookId = "wh000001"

  val graphYml: String =
    """functions:
      |  - webhook: events_in
      |    id: wh000001
      |  - node_file: dedup
      |    id: dd000001
      |    inputs: {in: events_in}
      |    outputs: {out: events}
      |  - node_file: user_totals.sql
      |    id: ut000001
      |    inputs: {src: events}
      |    outputs: {out: user_totals}
      |  - node_file: topk
      |    id: tk000001
      |    inputs: {src: user_totals}
      |    outputs: {out: leaderboard}
      |stores:
      |  - table: events_in
      |  - table: events
      |  - table: user_totals
      |  - table: leaderboard
      |""".stripMargin

  val totalsSql: String =
    "SELECT user_id, COUNT(*) AS n, SUM(amount) AS total FROM {{ src }} GROUP BY user_id\n"

  val topkSql: String =
    "SELECT user_id, n, total FROM user_totals ORDER BY total DESC, user_id LIMIT 20"

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("amount", LongType, nullable = false)))

  private def row(e: Event): Row = Row(e.eventId, e.userId, e.kind, e.amount)

  final case class Round(latencies: Seq[Double], layers: Map[String, Double],
      error: Option[String], spans: Seq[Span] = Nil)

  def run(spark: SparkSession, cfg: Config, shape: Shape, out: Result): Unit = {
    val graphDir = new File(cfg.tmp, "graph")
    graphDir.mkdirs()
    Files.write(new File(graphDir, "graph.yml").toPath, graphYml.getBytes("UTF-8"))
    Files.write(new File(graphDir, "user_totals.sql").toPath, totalsSql.getBytes("UTF-8"))
    val batches = EventGen.batches(cfg.seed, shape)
    val frames = batches.map(b => spark.createDataFrame(b.map(row).asJava, schema))

    val warm = round(spark, cfg, graphDir, 0, batches.take(shape.warmBatches),
      frames.take(shape.warmBatches), Trace.off, None, out)
    warm.error.foreach(e => out.note(s"warm round: $e"))

    val trace = new Trace(cfg.trace)
    val counters = new Counters
    val rounds = mutable.ArrayBuffer.empty[(Boolean, Round)]
    // The round count depends on --seconds alone, never on measured time,
    // so every commit is measured the same way: one round per 20 s. Traced
    // runs make three rounds, untraced, traced, untraced, so the tracing
    // overhead is not confounded with a JIT that is still warming up.
    val n = if (cfg.trace) 3 else math.max(1, math.round(cfg.seconds / 20).toInt)
    (1 to n).foreach { k =>
      val traced = cfg.trace && k % 2 == 0
      if (traced) { trace.clear(); counters.clear() }
      val r = round(spark, cfg, graphDir, k, batches, frames,
        if (traced) trace else Trace.off, if (traced) Some(counters) else None, out)
      rounds += ((traced, r))
      System.err.println(f"[perfbench] ${cfg.workload} round $k traced=$traced " +
        f"work=${r.latencies.sum}%.3fs")
    }

    if (cfg.trace) out.markHeapLive()
    out.attempted = rounds.map(_._2.latencies.size).sum
    rounds.foreach(_._2.error.foreach(out.note))
    out.failed = failedOps(rounds.map(_._2).toSeq)
    val untraced = rounds.filterNot(_._1).map(_._2)
    out.workS = Stats.median(untraced.map(_.latencies.sum).toSeq)
    out.opSeconds = untraced.flatMap(_.latencies).toSeq
    if (cfg.trace) {
      val traced = rounds.filter(_._1).map(_._2)
      out.layers ++= Layers.medianOver(traced.map(_.layers).toSeq)
      out.spans = traced.flatMap(_.spans).toSeq
      out.layers("batch.late_over_early") =
        Stats.median(rounds.map(r => lateOverEarly(r._2.latencies)).toSeq)
      out.layers("trace.overhead_s") =
        Stats.median(traced.map(_.latencies.sum).toSeq) -
          untraced.map(_.latencies.sum).sum / untraced.size
    }
  }

  /** A round that threw, or whose end state fails its check, fails every
    * op it ran: none of them can be shown to have produced its share of
    * the state.
    */
  def failedOps(rounds: Seq[Round]): Int =
    rounds.filter(_.error.nonEmpty).map(_.latencies.size).sum

  /** Median latency of the last tenth of batches over the first tenth. */
  def lateOverEarly(lat: Seq[Double]): Double = {
    val n = math.max(1, lat.size / 10)
    Stats.median(lat.takeRight(n)) / Stats.median(lat.take(n))
  }

  /** One round: fresh catalog and runner, every batch ingested and
    * cascaded, then the app's state checked against a plain fold.
    */
  private def round(spark: SparkSession, cfg: Config, graphDir: File, k: Int,
      batches: Seq[Seq[Event]], frames: Seq[DataFrame], tr: Trace,
      counters: Option[Counters], out: Result): Round = {
    val root = new File(cfg.tmp, s"catalog-$k")
    val consumed = mutable.ArrayBuffer.empty[(String, Long)]
    val upserted = new java.util.concurrent.atomic.AtomicLong
    val graph = GraphLoader.load(new File(graphDir, "graph.yml").toPath)
    val runner = new GraphRunner(spark, graph, root.getPath, Some(graphDir.toPath))
      .register("dedup", eng => tr.span("node.dedup") {
        val outT = eng.table("out", "w").init(uniqueOn = Seq("event_id"), bucketBy = 8)
        val st = eng.table("in").asStream(orderBy = "seq")
        val rows = tr.span("api.stream.consume") {
          st.consumeRecords().map(r => (r.getAs[String]("seq"),
            Row(r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
              r.getAs[String]("kind"), r.getAs[Long]("amount")))).toVector
        }
        consumed.synchronized { consumed ++= rows.map(r => (r._1, r._2.getLong(0))) }
        if (rows.nonEmpty) tr.span("api.table.upsert") {
          outT.upsert(eng.spark.createDataFrame(rows.map(_._2).asJava, schema))
        }
        upserted.addAndGet(rows.size.toLong)
        tr.span("api.stream.checkpoint") { st.checkpoint() }
      })
      .register("topk", eng => tr.span("node.topk") {
        val top = tr.span("api.table.read_sql") { eng.table("src").readSql(topkSql) }
        tr.span("api.table.replace") { eng.table("out", "w").replace(top) }
      })
    val ingest = new GraftEngine(spark, root.getPath, "ingest")
      .table("events_in", "w").init(addMonotonicId = "seq")
    counters.foreach(c => spark.sparkContext.addSparkListener(c))
    val jvm0 = (Counters.gcSeconds, Counters.jitSeconds, Counters.io())
    val lat = mutable.ArrayBuffer.empty[Double]
    var error: Option[String] = None
    val it = frames.iterator.zipWithIndex
    while (error.isEmpty && it.hasNext) {
      val (df, i) = it.next()
      if (k > 0) out.markFirstOp()
      val t0 = System.nanoTime()
      try tr.span("op", op = s"r$k/b$i") {
        tr.span("api.table.flush") { ingest.append(df); ingest.flush() }
        tr.span("graph.trigger", adopt = true) { runner.trigger(WebhookId) }
      } catch { case e: Throwable =>
        error = Some(s"round $k batch $i threw: ${Battery.firstLine(e)}")
      }
      lat += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] r$k b$i ${lat.last}%.3fs")
    }
    val layers = counters.map { c =>
      Counters.drainBus(spark)
      spark.sparkContext.removeSparkListener(c)
      val common = Layers.common(tr.all, c, jvm0)
      val app = appLayers(tr.all, c, upserted.get)
      val cat = catalogLayers(spark, root, batches, new File(cfg.tmp, s"ref-$k"))
      common ++ app ++ cat + ("graph.node_runs" ->
        (app("graph.node_runs") + cat("graph.sql_node_runs")))
    }.getOrElse(Map.empty)
    if (error.isEmpty) error = check(spark, root, batches, consumed.toSeq)
      .map(m => s"round $k check failed: $m")
    deleteTree(root)
    Round(lat.toSeq, layers, error, tr.all)
  }

  /** The app's end state against a plain-Scala fold of the same input. */
  private def check(spark: SparkSession, root: File, batches: Seq[Seq[Event]],
      consumed: Seq[(String, Long)]): Option[String] = {
    val ingested = batches.flatten
    val want = EventGen.distinct(batches)
    val totals = EventGen.totals(want.values)
    val probe = new GraftEngine(spark, root.getPath, "probe")
    val events = probe.table("events").read
      .select("event_id", "user_id", "kind", "amount").collect()
      .map(r => Event(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val gotTotals = probe.table("user_totals").read.select("user_id", "n", "total").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val gotTop = probe.table("leaderboard").read.select("user_id", "n", "total").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy { case (u, _, t) => (-t, u) }
    if (consumed.map(_._1).distinct.size != consumed.size)
      Some("the stream delivered a row twice")
    else if (consumed.map(_._2).sorted != ingested.map(_.eventId).sorted)
      Some(s"the stream delivered ${consumed.size} rows for ${ingested.size} ingested")
    else if (events.length != want.size || events.exists(e => !want.get(e.eventId).contains(e)))
      Some(s"events holds ${events.length} rows, ${want.size} distinct ids were sent")
    else if (gotTotals != totals) Some("user_totals differs from the fold")
    else if (gotTop != EventGen.leaderboard(totals)) Some("leaderboard differs from the fold")
    else None
  }

  /** Runner, node-body and API layer metrics of one traced round. */
  private def appLayers(spans: Seq[Span], c: Counters, rowsUpserted: Long): Map[String, Double] = {
    def sum(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def iv(ss: Seq[Span]) = ss.map(s => (s.startMs, s.endMs))
    val triggers = spans.filter(_.name == "graph.trigger")
    val bodies = spans.filter(_.name.startsWith("node."))
    val sql = c.sqlIntervals
    val sqlNode = triggers.map { t =>
      (Trace.unionLength(sql ++ iv(bodies), t.startMs, t.endMs) -
        Trace.unionLength(iv(bodies), t.startMs, t.endMs)) / 1000.0
    }.sum
    val consumes = spans.filter(_.name == "api.stream.consume")
    val upserts = spans.filter(_.name == "api.table.upsert")
    val scanned = consumes.flatMap(s => c.tasksIn(s.startMs, s.endMs)).map(_.inputRecords).sum
    val written = upserts.flatMap(s => c.tasksIn(s.startMs, s.endMs)).map(_.outputRecords).sum
    val trigger = triggers.map(_.seconds).sum
    val body = bodies.map(_.seconds).sum
    Map(
      "graph.trigger_s" -> trigger,
      "graph.body_s" -> body,
      "graph.sql_node_s" -> sqlNode,
      "graph.runner_self_s" -> (trigger - body - sqlNode),
      "graph.node_runs" -> (triggers.size + bodies.size).toDouble,
      "api.table.flush_s" -> sum("api.table.flush"),
      "api.stream.consume_s" -> sum("api.stream.consume"),
      "api.stream.checkpoint_s" -> sum("api.stream.checkpoint"),
      "api.table.upsert_s" -> sum("api.table.upsert"),
      "api.table.read_sql_s" -> sum("api.table.read_sql"),
      "api.table.replace_s" -> sum("api.table.replace"),
      "api.stream.read_ratio" -> rowsUpserted.toDouble / math.max(1L, scanned),
      "api.table.upsert_write_amp" -> written.toDouble / math.max(1L, rowsUpserted))
  }

  /** Catalog state at round end, walked from outside the engine, and its
    * size against the round's distinct events written once as parquet.
    */
  private def catalogLayers(spark: SparkSession, root: File, batches: Seq[Seq[Event]],
      ref: File): Map[String, Double] = {
    val tables = Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
    val versions = tables.flatMap(t => Option(t.listFiles()).getOrElse(Array.empty[File])
      .filter(v => v.isDirectory && !v.getName.startsWith("_") && !v.getName.startsWith(".")))
    val files = walk(root)
    val sqlRuns = tables.find(_.getName == "user_totals").fold(0)(t =>
      versions.count(_.getParentFile == t))
    spark.createDataFrame(EventGen.distinct(batches).values.toSeq.sortBy(_.eventId)
      .map(row).asJava, schema).coalesce(1).write.parquet(ref.getPath)
    val refBytes = walk(ref).filter(_.getName.endsWith(".parquet")).map(_.length).sum
    deleteTree(ref)
    val onDisk = files.map(_.length).sum
    Map(
      "catalog.versions_live" -> versions.length.toDouble,
      "catalog.data_files" -> files.count(_.getName.endsWith(".parquet")).toDouble,
      "catalog.manifest_bytes" ->
        files.filter(_.getName == "manifest.json").map(_.length).sum.toDouble,
      "catalog.bytes_on_disk" -> onDisk.toDouble,
      "catalog.store_amp" -> onDisk.toDouble / math.max(1L, refBytes),
      "graph.sql_node_runs" -> sqlRuns.toDouble)
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }
}
