package graft.graph

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.api.GraftEngine

/** Event-driven executor for a parsed graph (SURVEY.md §3, reference
  * trigger flow commands/trigger.py:18-56 + the implied server loop).
  *
  * Execution model: running a node flushes its writes, which appends
  * create/update events to the written tables' manifests; any node whose
  * input stores gained events since its last run becomes eligible, and the
  * loop continues until quiescent (bounded by `maxSteps` to break
  * write-your-own-input cycles — SURVEY.md §7.4.4). `should_continue` /
  * `request_new_run` re-enqueue long nodes (node.py:465-500).
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
    * request's options and its wall-clock arrival — honored by cascade():
    * `waitAtleastSeconds` defers eligibility until the delay elapses (the
    * rerun then happens on the next trigger/runDue/runAll sweep, matching
    * the host-scheduler-tick model), and `triggerDownstream = false`
    * absorbs the rerun's output events so consumers don't fire on it.
    */
  private val pendingRerun =
    mutable.Map.empty[String, (graft.api.NewRunRequest, Long)]

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

  /** Sum of events on this node's input stores (its trigger signal).
    * Counts the manifest's all-time `eventCounter`, not the (trimmed)
    * event list.
    */
  private def inputEventCount(n: NodeConfig): Long =
    n.inputStores.toSeq
      .map(s => probeCatalog.refresh(s).map(_.eventCounter).getOrElse(0L)).sum

  // Baseline each node at the catalog's CURRENT event counts: a fresh
  // runner over an existing catalog must treat history as already
  // processed — "trigger A" means "run A and its NEW effects", not
  // "replay every consumer of every table ever written" (which would
  // duplicate rows in append-output nodes on every process restart).
  graph.functions.filterNot(_.isWebhook)
    .foreach(n => seenEvents(n.id) = inputEventCount(n))

  /** Run one node now (`patterns trigger`, B13). Returns the engine so
    * callers can inspect state.
    */
  def runNode(id: String): GraftEngine = {
    val n = node(id)
    val eng = execBody(n)
    finishRun(n, eng)
    eng
  }

  /** The node body alone — no seenEvents/pendingRerun bookkeeping, so a
    * parallel cascade batch can run bodies concurrently and keep ALL
    * shared-map mutation on the coordinator thread ([[finishRun]]).
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

  /** Coordinator-side bookkeeping after a node body completed: absorb the
    * node's own input-event position and capture any follow-up-run
    * request. Must never run concurrently with another mutation of the
    * shared maps (cascade calls it sequentially after each batch).
    */
  private def finishRun(n: NodeConfig, eng: GraftEngine): Unit = {
    seenEvents(n.id) = inputEventCount(n)
    eng.state.pendingNewRun.foreach(r =>
      pendingRerun(n.id) = (r, System.currentTimeMillis()))
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

  /** Trigger a node, then cascade: run every node whose inputs gained
    * events, until quiescent or `maxSteps`.
    */
  def trigger(id: String, maxSteps: Int = 100): Unit = {
    runNode(id)
    cascade(maxSteps)
  }

  /** Trigger every node whose cron `trigger:` expression fires at `now`,
    * cascading downstream (B9 — the engine-side tick a host scheduler
    * calls once per minute; the reference platform runs this server-side).
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
    runConflictFree(due)
    if (due.nonEmpty) cascade(maxSteps)
    due.map(_.id)
  }

  /** Run all eligible nodes until quiescent: sources (no inputs) run once
    * (store-disjoint sources concurrently), consumers run as their inputs
    * change.
    */
  def runAll(maxSteps: Int = 100): Unit = {
    runConflictFree(
      graph.functions.filterNot(_.isWebhook).filter(_.inputs.isEmpty))
    cascade(maxSteps)
  }

  /** Max node bodies run concurrently per cascade sweep. Only PAIRWISE
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

  /** Run node BODIES, concurrently when the batch has >1 member. The
    * caller guarantees the batch is pairwise store-disjoint and does ALL
    * shared-map bookkeeping afterwards on its own thread.
    */
  private def execBatch(
      batch: Seq[NodeConfig]): Seq[(NodeConfig, scala.util.Try[GraftEngine])] =
    if (batch.size <= 1)
      batch.map(n => n -> scala.util.Try(execBody(n)))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(batch.size)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val futs = batch.map(n => n -> scala.concurrent.Future(execBody(n)))
        futs.map { case (n, f) =>
          n -> scala.util.Try(scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf))
        }
      } finally pool.shutdown()
    }

  /** Run a set of independently-triggered nodes (cron-due sweep) with the
    * cascade's conflict rule: store-disjoint subsets execute concurrently,
    * conflicting nodes wait for the earlier batch. Bookkeeping for every
    * completed body happens before the first failure is rethrown (same
    * contract as cascade — no duplicate re-runs of succeeded siblings).
    */
  private def runConflictFree(nodes: Seq[NodeConfig]): Unit = {
    var rest = nodes
    while (rest.nonEmpty) {
      val batch = rest.foldLeft(Vector.empty[NodeConfig]) { (b, n) =>
        if (b.size < cascadeParallelism && b.forall(!conflicts(_, n))) b :+ n
        else b
      }
      rest = rest.filterNot(n => batch.exists(_.id == n.id))
      val outcomes = execBatch(batch)
      outcomes.foreach {
        case (n, scala.util.Success(eng)) => finishRun(n, eng)
        case _ => ()
      }
      outcomes.collectFirst { case (_, scala.util.Failure(e)) => e }
        .foreach(throw _)
    }
  }

  private def cascade(maxSteps: Int): Unit = {
    var steps = 0
    var progressed = true
    while (progressed && steps < maxSteps) {
      progressed = false
      // a requested rerun is eligible only once its wait_atleast delay has
      // elapsed; undelayed requests run in this sweep
      def rerunDue(id: String): Boolean = pendingRerun.get(id).exists {
        case (r, at) => r.waitAtleastSeconds.forall(w =>
          System.currentTimeMillis() >= at + w * 1000L)
      }
      val eligible = graph.functions.filterNot(_.isWebhook).filter { n =>
        (n.inputs.nonEmpty && inputEventCount(n) > seenEvents(n.id)) ||
          rerunDue(n.id)
      }
      // greedy conflict-free batch, bounded PER NODE by maxSteps (total
      // node runs capped exactly, so a write-your-own-input cycle cannot
      // overshoot by the size of the eligible set). Nodes that conflict
      // with an earlier batch member defer to the next sweep — their
      // unconsumed events keep them eligible.
      val batch = mutable.ArrayBuffer.empty[NodeConfig]
      eligible.foreach { n =>
        if (steps + batch.size < maxSteps &&
            batch.size < cascadeParallelism &&
            batch.forall(!conflicts(_, n))) batch += n
      }
      // Consume a pending rerun only when it is actually DUE: an
      // event-driven run must not swallow a deferred (wait_atleast)
      // request — the request stays pending for a later sweep, and its
      // triggerDownstream flag applies only to the run that satisfies it.
      val consumed = batch.map { n =>
        n -> (if (rerunDue(n.id)) pendingRerun.remove(n.id) else None)
      }
      // Snapshot each batch member's output-store event counters BEFORE
      // running, so triggerDownstream=false absorption credits consumers
      // with exactly the events THIS run emitted — never pre-existing
      // unprocessed events from another producer on a shared store.
      // Only paid when an absorbing rerun is actually in the batch.
      val preCounts: Map[String, Long] =
        if (!consumed.exists(_._2.exists(!_._1.triggerDownstream))) Map.empty
        else batch.flatMap(_.outputStores).distinct.map(s =>
          s -> probeCatalog.refresh(s).map(_.eventCounter).getOrElse(0L)).toMap
      // Bodies run concurrently when the batch has >1 member; ALL
      // shared-map bookkeeping stays on this thread, after the bodies.
      val outcomes = execBatch(batch.toSeq)
      // bookkeeping for EVERY completed body first (a mid-batch failure
      // must not leave a succeeded sibling's events unconsumed — it would
      // re-run on the next sweep and, for an append node, duplicate rows),
      // then rethrow the first failure.
      outcomes.foreach {
        case (n, scala.util.Success(eng)) =>
          finishRun(n, eng)
          // trigger_downstream = false (node.py:482-500): absorb ONLY the
          // events this rerun emitted on n's outputs (post-minus-pre
          // delta per store), added to each consumer's seen position.
          // Overwriting with the full current count would also absorb
          // unrelated events another producer emitted earlier in the
          // sweep, silently losing a legitimate trigger. The node itself
          // is excluded: finishRun already re-based it on the full count.
          consumed.collectFirst { case (`n`, Some((r, _))) if !r.triggerDownstream => () }
            .foreach { _ =>
              val delta: Map[String, Long] = n.outputStores.map(s =>
                s -> (probeCatalog.refresh(s).map(_.eventCounter).getOrElse(0L)
                  - preCounts.getOrElse(s, 0L))).toMap
              graph.functions.filterNot(_.id == n.id)
                .filter(m => m.inputStores.intersect(n.outputStores).nonEmpty)
                .foreach { m =>
                  val add = m.inputStores.toSeq.map(s => delta.getOrElse(s, 0L)).sum
                  seenEvents(m.id) = seenEvents(m.id) + add
                }
            }
          progressed = true
          steps += 1
        case (n, scala.util.Failure(_)) =>
          // a FAILED body did not satisfy its rerun request — restore it
          // (original timestamp, so waitAtleast stays measured from the
          // request) instead of silently dropping the trigger: the caller
          // that catches the rethrow and re-enters the cascade gets the
          // requested run, at-least-once
          consumed.collectFirst { case (`n`, Some(r)) => r }
            .foreach(r => pendingRerun(n.id) = r)
      }
      outcomes.collectFirst { case (_, scala.util.Failure(e)) => e }
        .foreach(throw _)
    }
  }
}
