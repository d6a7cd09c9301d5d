package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming surface (SURVEY.md §2.C streaming note + §7.6).
  *
  * The reference's own model is exactly-once incremental BATCH consumption
  * (engine Stream, graft.api.Stream) — these pipelines are the
  * Spark-native continuous counterpart for users who want push-style
  * processing over the same catalog: [[tailTable]] streams a table through
  * its manifest ([[GraftTableSource]]), and [[writeToTable]] feeds one.
  */
object StreamingPipelines {

  /** Tail a catalog version directory (or any parquet dir) as a stream.
    * `schemaDdl` is required by Structured Streaming for file sources.
    */
  def tailParquet(spark: SparkSession, dir: String, schemaDdl: String): DataFrame =
    spark.readStream.schema(schemaDdl).parquet(dir)

  /** Event-time tumbling-window aggregation with a watermark: the canonical
    * readStream → withWatermark → window → agg shape. `tsCol` must be a
    * TimestampType column.
    */
  def windowedCounts(events: DataFrame, tsCol: String, windowDur: String,
      watermarkDelay: String, keyCol: String,
      valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(valueCol).as("total"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("total"))

  /** Event-time SESSION windows via the built-in session_window: gap-based
    * sessions per key under a watermark — the declarative counterpart of
    * the batch sessionization in q36 and of [[sessionize]]'s custom-state
    * form. State is bounded by the watermark (closed sessions emit and
    * drop), which is what keeps it runnable over an unbounded stream.
    */
  def sessionWindowCounts(events: DataFrame, tsCol: String, gap: String,
      watermarkDelay: String, keyCol: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Per-key running session state via mapGroupsWithState: keeps a count +
    * last-seen timestamp per key with a processing-time timeout — the
    * custom-state rung the built-in windowed aggs can't express.
    */
  case class SessionState(count: Long, lastTs: Long)
  case class SessionUpdate(key: Long, count: Long, lastTs: Long, expired: Boolean)

  def sessionize(events: Dataset[(Long, Timestamp)],
      timeoutMs: Long = 0L): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    // timeoutMs > 0 enables processing-time session expiry; note the engine
    // then schedules timeout-check batches continuously, so tests that rely
    // on processAllAvailable settling should pass 0 (NoTimeout).
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_._1)
      .mapGroupsWithState(timeoutConf) {
        (key: Long, rows: Iterator[(Long, Timestamp)], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionUpdate(key, s.count, s.lastTs, expired = true)
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0L))
            val batch = rows.toSeq
            val next = SessionState(
              prev.count + batch.size,
              math.max(prev.lastTs, batch.map(_._2.getTime).max))
            state.update(next)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            SessionUpdate(key, next.count, next.lastTs, expired = false)
          }
      }
  }

  /** Materialize a streaming frame into an in-memory sink for tests /
    * interactive inspection; production sinks are writeStream.parquet on a
    * new catalog version dir.
    */
  def toMemorySink(df: DataFrame, name: String, complete: Boolean): StreamingQuery =
    toMemorySink(df, name,
      if (complete) OutputMode.Complete else OutputMode.Update)

  /** Explicit-mode overload: stream-stream joins only run in Append. */
  def toMemorySink(df: DataFrame, name: String, mode: OutputMode): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  /** Watermarked STREAM-STREAM inner join — click→purchase attribution:
    * each purchase matches same-user clicks at most `attributionWindow`
    * before it. Expected schemas: clicks(user_id, click_id, click_ts),
    * purchases(user_id, purchase_id, purchase_ts).
    *
    * Both inputs carry watermarks and the join predicate bounds their
    * event-time distance in BOTH directions — exactly the conditions Spark
    * needs to prove each side's join state droppable; without them an
    * unbounded stream-stream join buffers forever. State shards by the
    * equi-key (user_id) across executors, so the shape holds at cluster
    * scale. Append-only output (rows emit once both watermarks pass).
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      attributionWindow: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("click_ts", watermarkDelay).alias("c")
    val p = purchases.withWatermark("purchase_ts", watermarkDelay).alias("p")
    c.join(p, expr(
      s"""c.user_id = p.user_id AND
         |p.purchase_ts >= c.click_ts AND
         |p.purchase_ts <= c.click_ts + INTERVAL $attributionWindow""".stripMargin))
      .select(col("c.user_id"), col("c.click_id"), col("p.purchase_id"),
        col("c.click_ts"), col("p.purchase_ts"))
  }

  /** STREAM-STATIC enrichment: join each micro-batch against a catalog
    * dimension snapshot. The static side re-executes per micro-batch (so a
    * dim refresh is picked up without restarting the query) and the
    * broadcast hint keeps the stream side shuffle-free — the standard
    * enrichment shape for small dims; drop the hint when the dim outgrows
    * broadcast and let AQE pick the join.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Streaming NEAR-dup candidate filter — the LSH counterpart of
    * [[dedupStream]]: each incoming doc fans out to its MinHash band
    * buckets (`TextFunctions.bandSignatures`, bit-identical to the d03
    * batch pipeline), and per-bucket state remembers the first document
    * that claimed the bucket. A doc sharing ANY bucket with an earlier doc
    * is a near-dup CANDIDATE (exact-verify downstream, exactly as d03
    * verifies its banding candidates). Keyed state shards by bucket across
    * executors; it grows with distinct buckets, so production runs bound
    * it with a state timeout or periodic compaction.
    */
  case class BucketHit(doc_id: Long, band: Int, bucket: String,
      seen_before: Boolean, first_doc: Long)

  /** `timeoutMs > 0` expires idle bucket state on processing time — the
    * bound a long-running production stream needs (state otherwise grows
    * with every distinct band signature ever seen). An expired bucket's
    * next claimant starts a fresh lineage, trading recall across quiet
    * periods for bounded state — the same trade the watermark makes in
    * [[dedupStream]]. Tests settling on processAllAvailable pass 0.
    */
  def lshCandidateStream(docs: Dataset[(Long, String)],
      timeoutMs: Long = 0L): Dataset[BucketHit] = {
    import docs.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    docs.flatMap { case (id, text) =>
      graft.functions.TextFunctions.bandSignatures(text)
        .map { case (b, sig) => (s"$b:$sig", id, b) }
    }.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf) {
        (bucket: String, rows: Iterator[(String, Long, Int)],
            state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // state EXISTENCE is the claimed-test (doc ids may be any
            // Long, so no sentinel value is safe); lowest id wins within
            // a micro-batch so replays stay deterministic
            var first = state.getOption
            val out = rows.toArray.sortBy(_._2).map { case (_, id, band) =>
              val seen = first.isDefined
              if (!seen) first = Some(id)
              BucketHit(id, band, bucket, seen, first.get)
            }
            state.update(first.get)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            out.iterator
          }
      }
  }

  /** Streaming exact dedup: drop rows whose `idCols` were already seen
    * within the watermark window (state is bounded by the watermark — the
    * streaming counterpart of d01's hash-groupBy dedup; at scale the state
    * store shards by key across executors).
    */
  def dedupStream(df: DataFrame, tsCol: String, watermarkDelay: String,
      idCols: String*): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols.toSeq)

  /** Tail a catalog table as a stream through its manifest
    * ([[GraftTableSource]]), schema taken from the table's active version:
    * committed appends become micro-batches, in the order of the table's
    * stream role, as `Table.asStream` orders (the same error when the table
    * declares none). The continuous counterpart of `Table.asStream`: it
    * follows version swaps (upsert, compaction) by its value cursor and
    * reads only listed files, so it never sees a failed or uncommitted
    * write.
    */
  def tailTable(table: graft.api.Table): DataFrame =
    table.read.sparkSession.readStream.format(classOf[GraftTableSourceProvider].getName)
      .option("root", table.catalog.root.toString).option("table", table.name)
      .option("orderBy", table.streamOrder()).load()

  /** Stream into a catalog table: each micro-batch goes through the
    * table's own write path, so schema-on-write conformance, auto columns,
    * clustering, and bucket layout all apply — and every batch emits the
    * catalog events that trigger downstream graph nodes.
    *
    * Delivery semantics on batch REPLAY (foreachBatch is at-least-once):
    * a table with `unique_on` declared is written via upsert, so replays
    * are fully idempotent (exactly-once). Without a key, a committed-batch
    * marker in the checkpoint dir skips already-flushed batches — replays
    * duplicate only if a crash lands exactly between the flush and the
    * marker write (at-least-once with a vanishing window).
    */
  def writeToTable(df: DataFrame, table: graft.api.Table,
      checkpointDir: String): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Hadoop FS so URI-style checkpoint locations (file://, hdfs://,
        // s3a://) resolve to the SAME store Spark's checkpoint uses — a
        // java.nio relative path would silently land in the driver's cwd
        // and lose the markers across restarts. On the engine's write
        // options, as GraftTableSource's high water: a local checkpoint
        // gets CatalogFileSystem (no `chmod` fork per marker), an uncached
        // instance this batch closes
        val commits = new org.apache.hadoop.fs.Path(checkpointDir, "_graft_commits")
        val fs = commits.getFileSystem(batch.sparkSession.sessionState
          .newHadoopConfWithOptions(graft.catalog.CatalogFileSystem.writeOptions))
        try {
          val marker = new org.apache.hadoop.fs.Path(commits, batchId.toString)
          if (!fs.exists(marker)) {
            if (table.manifest.meta.uniqueOn.nonEmpty) table.upsert(batch)
            else { table.append(batch); table.flush() }
            fs.mkdirs(commits)
            fs.create(marker, true).close()
          }
          // prune old markers: only batches Spark can still REPLAY (the
          // most recent ones after a restart) need dedup protection — a
          // 10s-trigger stream otherwise accumulates ~8.6k small files/day
          // forever. Swept every 100 batches (one listing amortized), keep
          // the trailing 100.
          if (batchId % 100L == 0L && batchId > 100L) {
            val keepFrom = batchId - 100L
            try Option(fs.listStatus(commits)).getOrElse(Array.empty)
              .foreach { st =>
                val bid = st.getPath.getName.toLongOption
                if (bid.exists(_ < keepFrom)) fs.delete(st.getPath, false)
              }
            catch { case _: java.io.IOException => () } // best-effort sweep
          }
        } finally fs match {
          case local: graft.catalog.CatalogFileSystem => local.close()
          case _ => // a cached, shared instance: not this batch's to close
        }
      }
      .start()
}
