package graft.graph

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.api.{GraftEngine, NewRunRequest}

/** Event-driven executor for a parsed graph (SURVEY.md §3, reference
  * trigger flow commands/trigger.py:18-56 + the implied server loop).
  *
  * Execution model: running a node flushes its writes, which appends
  * create/update events to the written tables' manifests. One loop
  * ([[run]]) schedules every node run of `trigger`, `runDue` and `runAll`:
  * it first runs their FORCED nodes (the triggered node, the cron-due
  * nodes, or the sources), then sweeps every node whose input stores
  * gained events since its last run or whose `request_new_run` is due
  * (node.py:465-500), until quiescent or `maxSteps` swept runs (the bound
  * that breaks write-your-own-input cycles — SURVEY.md §7.4.4). Batches
  * are pairwise store-disjoint and run their bodies concurrently; at each
  * batch boundary the loop reads the wall clock and each store's event
  * counter once ([[Mark]]), and every eligibility test and seen-position
  * update reads that boundary.
  *
  * Node bodies: SQL nodes are `.sql` files rendered with `{{ port }}` /
  * `{{ params.x }}` templating then materialized to their single output
  * store (create.py:239-244); Scala function nodes are registered in
  * [[register]] under their `node_file` name — the engine-side equivalent
  * of a python node body (create.py:229-237).
  */
class GraphRunner(
    spark: SparkSession,
    val graph: GraphConfig,
    catalogRoot: String,
    graphDir: Option[Path] = None) {

  type NodeFn = GraftEngine => Unit

  private val fns = mutable.Map.empty[String, NodeFn]
  /** Per-node count of input events already processed. */
  private val seenEvents = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Nodes that asked for a follow-up execution (requestNewRun), with the
    * request's options and the clock of the batch boundary that followed
    * the requesting run. Every trigger/runDue/runAll sweep honors them,
    * matching the host-scheduler-tick model: `waitAtleastSeconds` defers
    * eligibility until the delay has elapsed, and `triggerDownstream =
    * false` absorbs the rerun's output events so consumers don't fire on
    * it. A forced run leaves a pending request in place.
    */
  private val pendingRerun = mutable.Map.empty[String, (NewRunRequest, Long)]

  def register(nodeFile: String, fn: NodeFn): GraphRunner = {
    fns(nodeFile) = fn; this
  }

  private def node(id: String): NodeConfig =
    graph.functions.find(_.id == id).getOrElse(
      throw new IllegalArgumentException(s"no node '$id'"))

  /** Engine scoped to one node: port names resolve through the node's
    * `inputs:`/`outputs:` bindings to store names (B8, edit.py:104-107).
    */
  private def engineFor(n: NodeConfig): GraftEngine =
    new GraftEngine(spark, catalogRoot, nodeId = n.id)
      // a webhook's same-named table is an implicit port of its node (B5)
      .withBindings(n.inputs ++ n.outputs ++ n.webhook.map(w => w -> w).toMap)
      .withParameters(n.parameters)

  /** Long-lived probe catalog for event counting — node writes happen via
    * other catalog instances, so each probe refreshes from disk.
    */
  private val probeCatalog =
    new graft.catalog.TableCatalog(java.nio.file.Paths.get(catalogRoot))

  /** A batch boundary: the wall clock, read once, and each store's
    * all-time manifest `eventCounter` (not the trimmed event list), read
    * at most once — on its first use.
    */
  private final class Mark {
    val now: Long = System.currentTimeMillis()
    private val counts = mutable.Map.empty[String, Long]
    def events(store: String): Long = counts.getOrElseUpdate(store,
      probeCatalog.refresh(store).map(_.eventCounter).getOrElse(0L))
    /** Sum of events on this node's input stores (its trigger signal). */
    def inputEvents(n: NodeConfig): Long = n.inputStores.toSeq.map(events).sum
  }

  // Baseline each node at the catalog's CURRENT event counts: a fresh
  // runner over an existing catalog must treat history as already
  // processed — "trigger A" means "run A and its NEW effects", not
  // "replay every consumer of every table ever written" (which would
  // duplicate rows in append-output nodes on every process restart).
  locally {
    val start = new Mark
    graph.functions.filterNot(_.isWebhook)
      .foreach(n => seenEvents(n.id) = start.inputEvents(n))
  }

  /** Run one node now (`patterns trigger`, B13), with no sweep after it.
    * Returns the engine so callers can inspect state.
    */
  def runNode(id: String): GraftEngine = {
    val n = node(id)
    val eng = execBody(n)
    finish(n, eng, new Mark)
    eng
  }

  /** The node body alone — no seenEvents/pendingRerun bookkeeping, so a
    * batch can run bodies concurrently and keep ALL shared-map mutation
    * on the coordinator thread ([[finish]]).
    */
  private def execBody(n: NodeConfig): GraftEngine = {
    val eng = engineFor(n)
    if (n.isWebhook) {
      // webhook nodes only materialize their same-named append table (B5):
      // touching the manifest forces loadOrCreate to PERSIST it — merely
      // constructing the Table handle wrote nothing, so a host that
      // triggered the webhook node to pre-create the store got nothing
      eng.table(n.webhook.get, "w").manifest
      ()
    } else if (n.isSql) {
      val sqlPath = graphDir.map(_.resolve(n.nodeFile.get)).getOrElse(
        throw new IllegalStateException("sql node needs graphDir"))
      val sql = render(new String(Files.readAllBytes(sqlPath), StandardCharsets.UTF_8), n)
      // a SQL node materializes ONE result table; accepting extra outputs
      // and writing whichever HashMap iteration yields first would leave
      // the others silently empty (and their consumers never triggered)
      require(n.outputs.size <= 1,
        s"sql node ${n.id} declares ${n.outputs.size} outputs " +
          s"(${n.outputs.keys.mkString(", ")}); a SQL node writes exactly one")
      val outPort = n.outputs.keys.headOption.getOrElse(
        throw new IllegalArgumentException(s"sql node ${n.id} needs an output store"))
      // register input ports as views under NODE-SCOPED names, run,
      // replace output. eng.table() takes PORT names (it resolves port ->
      // store through the bindings itself); passing the resolved store
      // name back in would re-resolve it as a port and, on a port/store
      // name collision, read — or for the output, REPLACE — the wrong
      // table. The node-id prefix (applied identically by [[render]])
      // keeps two SQL nodes with the same port name from clobbering each
      // other's views when a cascade batch runs them concurrently. The
      // views are dropped after eager analysis: port names are node-local
      // aliases and must not leak into the NEXT node's SQL resolution scope
      val result = GraftEngine.withViews(spark,
        n.inputs.keys.toSeq.map(p => viewName(n, p) -> eng.table(p).read))(spark.sql(sql))
      eng.table(outPort, "w").replace(result)
    } else {
      val fn = n.nodeFile.flatMap(fns.get).getOrElse(
        throw new IllegalArgumentException(
          s"no function registered for node_file ${n.nodeFile}"))
      fn(eng)
      eng.endExecution()
    }
    eng
  }

  /** Coordinator-side bookkeeping after a node body completed, against
    * the boundary `post` that followed its batch: re-base the node's seen
    * input events and capture any follow-up-run request.
    */
  private def finish(n: NodeConfig, eng: GraftEngine, post: Mark): Unit = {
    seenEvents(n.id) = post.inputEvents(n)
    eng.state.pendingNewRun.foreach(r => pendingRerun(n.id) = (r, post.now))
  }

  /** Node-scoped temp-view name for a SQL node's input port. */
  private def viewName(n: NodeConfig, port: String): String = s"v${n.id}_$port"

  /** `{{ port }}` resolves to the bound store's NODE-SCOPED temp view;
    * `{{ params.x }}` to the node's parameter value (B2 templating,
    * create.py:239-244).
    */
  private def render(template: String, n: NodeConfig): String =
    "\\{\\{\\s*([A-Za-z0-9_.]+)\\s*\\}\\}".r.replaceAllIn(template, m => {
      val ref = m.group(1)
      val value =
        if (ref.startsWith("params."))
          n.parameters.get(ref.stripPrefix("params.")).map(_.toString).getOrElse(
            throw new IllegalArgumentException(s"unbound template parameter $ref"))
        else viewName(n, ref) // port ref == its registered (scoped) view
      // literal substitution: a '$' or '\' in a parameter value must not be
      // treated as a regex group reference
      scala.util.matching.Regex.quoteReplacement(value)
    })

  /** Trigger a node, then sweep: run every node whose inputs gained
    * events, until quiescent or `maxSteps`.
    */
  def trigger(id: String, maxSteps: Int = 100): Unit = run(Seq(node(id)), maxSteps)

  /** Trigger every node whose cron `trigger:` expression fires at `now`,
    * then sweep (B9 — the engine-side tick a host scheduler calls once
    * per minute; the reference platform runs this server-side). The sweep
    * runs on every tick, so a due deferred rerun fires even when no cron
    * expression does.
    */
  def runDue(now: java.time.LocalDateTime, maxSteps: Int = 100): Seq[String] = {
    val due = graph.functions.filterNot(_.isWebhook)
      .filter(_.trigger.exists { expr =>
        // one node's malformed trigger must not abort the whole graph's
        // scheduler tick — skip it loudly, fire the rest
        try Cron(expr).isDue(now)
        catch { case e: IllegalArgumentException =>
          System.err.println(
            s"[graph] skipping node with invalid trigger '$expr': ${e.getMessage}")
          false
        }
      })
    run(due, maxSteps)
    due.map(_.id)
  }

  /** Run all eligible nodes until quiescent: sources (no inputs) run once
    * (store-disjoint sources concurrently), consumers run as their inputs
    * change.
    */
  def runAll(maxSteps: Int = 100): Unit =
    run(graph.functions.filterNot(_.isWebhook).filter(_.inputs.isEmpty), maxSteps)

  /** Max node bodies run concurrently per batch. Only PAIRWISE
    * STORE-DISJOINT nodes share a batch (see [[conflicts]]), so the value
    * trades latency for executor pressure, never correctness. The
    * reference platform runs independent nodes concurrently (per-node
    * triggers, services/trigger.py:10-22; per-node execution slices,
    * node.py:465-500).
    */
  private[graft] var cascadeParallelism: Int = 4

  /** Two nodes conflict when either writes a store the other touches:
    * write-write (both append/replace the same table), or write-read (one
    * produces what the other consumes — running them concurrently would
    * make the consumer's input a race). Read-read sharing is safe.
    */
  private def conflicts(a: NodeConfig, b: NodeConfig): Boolean =
    a.outputStores.intersect(b.inputStores ++ b.outputStores).nonEmpty ||
      b.outputStores.intersect(a.inputStores ++ a.outputStores).nonEmpty

  /** Greedy batch: `nodes` in order, each joining when it conflicts with
    * no earlier member, up to `cap` and [[cascadeParallelism]] members.
    */
  private def pack(nodes: Seq[NodeConfig], cap: Int): Seq[NodeConfig] =
    nodes.foldLeft(Vector.empty[NodeConfig]) { (b, n) =>
      if (b.size < math.min(cap, cascadeParallelism) && b.forall(!conflicts(_, n))) b :+ n
      else b
    }

  /** Run node BODIES, concurrently when the batch has >1 member. The
    * caller guarantees the batch is pairwise store-disjoint and does ALL
    * shared-map bookkeeping afterwards on its own thread.
    */
  private def execBatch(batch: Seq[NodeConfig]): Seq[(NodeConfig, Try[GraftEngine])] =
    if (batch.size <= 1)
      batch.map(n => n -> Try(execBody(n)))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(batch.size)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val futs = batch.map(n => n -> scala.concurrent.Future(execBody(n)))
        futs.map { case (n, f) =>
          n -> Try(scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf))
        }
      } finally pool.shutdown()
    }

  /** A requested rerun is eligible once its wait_atleast delay has
    * elapsed at `now`; an undelayed request is due at once.
    */
  private def rerunDue(id: String, now: Long): Boolean = pendingRerun.get(id).exists {
    case (r, at) => r.waitAtleastSeconds.forall(w => now >= at + w * 1000L)
  }

  /** The scheduling loop. The `forced` nodes run first, in batches; their
    * runs do not count toward `maxSteps` and leave pending rerun requests
    * in place. Then each sweep batches the nodes whose inputs gained
    * events or whose rerun request is due, capped so total swept runs
    * never exceed `maxSteps` (a write-your-own-input cycle cannot
    * overshoot by the size of the eligible set). A node that conflicts
    * with an earlier batch member defers to the next batch — its
    * unconsumed events keep it eligible.
    *
    * Bookkeeping for EVERY completed body of a batch happens before its
    * first failure is rethrown: a succeeded sibling's events left
    * unconsumed would re-run it on the next sweep and, for an append
    * node, duplicate rows.
    */
  private def run(forced: Seq[NodeConfig], maxSteps: Int): Unit = {
    var queue = forced
    var steps = 0
    var pre = new Mark
    var more = true
    while (more) {
      val swept = queue.isEmpty
      val batch =
        if (!swept) pack(queue, Int.MaxValue)
        else pack(graph.functions.filterNot(_.isWebhook).filter(n =>
          (n.inputs.nonEmpty && pre.inputEvents(n) > seenEvents(n.id)) ||
            rerunDue(n.id, pre.now)), maxSteps - steps)
      queue = queue.filterNot(batch.contains)
      // a swept run consumes its node's rerun request only when it is
      // DUE: an event-driven run must not swallow a deferred request, and
      // the request's triggerDownstream flag applies only to the run that
      // satisfies it
      val consumed = batch.filter(n => swept && rerunDue(n.id, pre.now))
        .flatMap(n => pendingRerun.remove(n.id).map(n.id -> _)).toMap
      val absorbing = batch.filter(n => consumed.get(n.id).exists(!_._1.triggerDownstream))
      // an absorbing run's pre-counts must be read before the bodies write
      absorbing.flatMap(_.outputStores).foreach(pre.events)
      val outcomes = execBatch(batch)
      val post = new Mark
      outcomes.foreach {
        case (n, Success(eng)) =>
          finish(n, eng, post)
          if (absorbing.contains(n)) absorb(n, pre, post)
          if (swept) steps += 1
        case (n, Failure(_)) =>
          // a FAILED body did not satisfy its rerun request — restore it
          // (original timestamp, so waitAtleast stays measured from the
          // request): the caller that catches the rethrow and runs again
          // gets the requested run, at-least-once
          consumed.get(n.id).foreach(pendingRerun(n.id) = _)
      }
      outcomes.collectFirst { case (_, Failure(e)) => e }.foreach(throw _)
      pre = post
      more = batch.nonEmpty
    }
  }

  /** trigger_downstream = false (node.py:482-500): add to each consumer's
    * seen position exactly the events `n`'s run emitted on the stores it
    * reads — the post- minus pre-count, attributable to `n` alone because
    * batch members are store-disjoint. Overwriting with the full count
    * would also absorb unrelated events another producer emitted earlier
    * in the sweep, silently losing a legitimate trigger. `n` itself is
    * excluded: [[finish]] already re-based it.
    */
  private def absorb(n: NodeConfig, pre: Mark, post: Mark): Unit =
    graph.functions.filterNot(_.id == n.id).foreach { m =>
      seenEvents(m.id) += m.inputStores.intersect(n.outputStores).toSeq
        .map(s => post.events(s) - pre.events(s)).sum
    }
}
