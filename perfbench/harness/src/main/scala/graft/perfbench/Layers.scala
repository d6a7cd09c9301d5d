package graft.perfbench

/** Per-layer metrics shared by every workload, computed from one traced
  * round's spans and the counters recorded while it ran.
  */
object Layers {
  /** Every per-layer metric a traced run reports, with its unit, on every
    * workload; a layer the workload leaves idle reads 0.
    */
  val units: Seq[(String, String)] =
    Seq("spark.jobs", "spark.tasks").map(_ -> "count") ++
      Seq("spark.job_busy_s", "driver.gap_s", "spark.task_cpu_s", "spark.sched_delay_s")
        .map(_ -> "s") ++
      Seq("spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
        "spark.input_bytes", "spark.output_bytes").map(_ -> "bytes") ++
      Seq("jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "jvm.peak_rss_mb" -> "MB",
        "jvm.heap_live_mb" -> "MB",
        "io.read_syscalls" -> "count", "io.write_syscalls" -> "count",
        "io.write_bytes" -> "bytes") ++
      Seq("query.plan_s", "query.exec_s", "query.shared_builds_s", "query.dedup_s",
        "query.text_s", "query.vector_s", "query.relational_s").map(_ -> "s") ++
      Seq("graph.trigger_s" -> "s", "graph.node_runs" -> "count", "graph.body_s" -> "s",
        "graph.sql_node_s" -> "s", "graph.runner_self_s" -> "s") ++
      Seq("api.table.flush_s", "api.stream.consume_s", "api.stream.checkpoint_s",
        "api.table.upsert_s", "api.table.read_sql_s", "api.table.replace_s").map(_ -> "s") ++
      Seq("api.stream.read_ratio" -> "ratio", "api.table.upsert_write_amp" -> "ratio",
        "catalog.versions_live" -> "count", "catalog.data_files" -> "count",
        "catalog.manifest_bytes" -> "bytes", "catalog.bytes_on_disk" -> "bytes",
        "catalog.store_amp" -> "ratio", "batch.late_over_early" -> "ratio") ++
      Seq("self.harness_s", "self.queries_s", "self.graph_s", "self.node_s", "self.api_s",
        "trace.overhead_s").map(_ -> "s") ++
      Seq("op.count" -> "count", "fail_frac" -> "ratio")

  /** The layer a span's self time is charged to. */
  def layerOf(spanName: String): String =
    if (spanName == "op") "harness"
    else if (spanName.startsWith("query.")) "queries"
    else if (spanName.startsWith("graph.")) "graph"
    else if (spanName.startsWith("node.")) "node"
    else "api"

  /** Metrics of one traced round: Spark work inside the op windows, JVM
    * and syscall deltas since `before`, and the median op's self time per
    * layer.
    */
  def common(spans: Seq[Span], c: Counters,
      before: (Double, Double, (Long, Long, Long))): Map[String, Double] = {
    val ops = spans.filter(_.name == "op")
    val tasks = ops.flatMap(o => c.tasksIn(o.startMs, o.endMs))
    val jobs = c.jobIntervals
    val busy = ops.map(o => Trace.unionLength(jobs, o.startMs, o.endMs) / 1000.0)
    val jobCount = ops.map(o => jobs.count { case (a, _) => a >= o.startMs && a <= o.endMs }).sum
    val (gc0, jit0, (r0, w0, b0)) = before
    val (r1, w1, b1) = Counters.io()
    val byParent = spans.groupBy(_.parent)
    val byOp = spans.groupBy(_.op)
    val selfByLayer = ops.map { o =>
      byOp(o.op).groupBy(s => layerOf(s.name)).map { case (layer, ss) =>
        layer -> ss.map(s => Trace.selfSeconds(s, byParent.getOrElse(s.id, Nil))).sum
      }
    }
    def selfMedian(layer: String) = Stats.median(selfByLayer.map(_.getOrElse(layer, 0.0)))
    Map(
      "spark.jobs" -> jobCount.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.job_busy_s" -> busy.sum,
      "driver.gap_s" -> ops.zip(busy).map { case (o, b) => o.seconds - b }.sum,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.sched_delay_s" -> tasks.map(_.schedMs).sum / 1000.0,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> tasks.map(_.inputBytes).sum.toDouble,
      "spark.output_bytes" -> tasks.map(_.outputBytes).sum.toDouble,
      "jvm.gc_s" -> (Counters.gcSeconds - gc0),
      "jvm.jit_s" -> (Counters.jitSeconds - jit0),
      "io.read_syscalls" -> (r1 - r0).toDouble,
      "io.write_syscalls" -> (w1 - w0).toDouble,
      "io.write_bytes" -> (b1 - b0).toDouble) ++
      Seq("harness", "queries", "graph", "node", "api").map(l => s"self.${l}_s" -> selfMedian(l))
  }

  /** Per-metric median over rounds. */
  def medianOver(rounds: Seq[Map[String, Double]]): Map[String, Double] =
    rounds.flatMap(_.keys).distinct.map { k =>
      k -> Stats.median(rounds.flatMap(_.get(k)))
    }.toMap
}
