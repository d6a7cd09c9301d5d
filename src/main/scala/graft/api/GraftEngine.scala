package graft.api

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.TableCatalog

/** The engine a node execution programs against — the in-process Spark
  * replacement for the reference's hosted platform (SURVEY.md §0, §3.1).
  *
  * One GraftEngine per node execution: it owns the versioned catalog
  * handle, the node's State (with the execution time budget,
  * node.py:465-480), and the set of opened table ports, and it flushes
  * buffered writes at execution end (node.py:407-414).
  */
class GraftEngine(
    val spark: SparkSession,
    rootDir: String,
    val nodeId: String = "default",
    executionLimitMillis: Long = 10 * 60 * 1000L) {

  val catalog = new TableCatalog(Paths.get(rootDir))
  val state = new State(Paths.get(rootDir).resolve("_state"), nodeId,
    System.currentTimeMillis(), executionLimitMillis)

  private val opened = mutable.LinkedHashMap.empty[String, Table]
  private val openedStreams = mutable.LinkedHashMap.empty[String, Stream]
  private var params: Map[String, Any] = Map.empty
  private var bindings: Map[String, String] = Map.empty
  // distinguishes "no bindings installed" (standalone engine — every name
  // connected) from "bindings installed but EMPTY" (a graph node with zero
  // declared ports — NOTHING connected): Map.empty alone can't tell the
  // two apart, and the difference is whether the declared-dataflow check
  // fires at all
  private var bindingsInstalled = false

  /** Bind a table port (node.py:117-139); the port name resolves through
    * the node's graph bindings to a physical store (B8, edit.py:104-107).
    *
    * Connectedness (node.py:232-238): standalone engines (no bindings
    * installed) treat every name as connected; under graph bindings a name
    * is connected if it is a declared port OR an already-resolved store of
    * this node. An unconnected port returns a dummy Table whose operations
    * no-op (`required = false` ports degrade gracefully).
    */
  def table(name: String, mode: String = "r", required: Boolean = true): Table = {
    val store = bindings.getOrElse(name, name)
    // memo-first: re-opening a port already resolved this execution returns
    // the same Table regardless of `required` — engine.table(p) after
    // engine.table(p, required = false) must not suddenly enforce a
    // connectivity the caller already opted out of. The connectivity
    // require therefore runs only on FIRST open (inside the default block).
    opened.getOrElseUpdate(store, {
      val connected = isNameConnected(name)
      // an unconnected REQUIRED port is a graph-config error (the platform
      // rejects it at deploy; node.py:136-138) — fail loudly rather than
      // silently swallowing the node's reads/writes in a dummy
      require(connected || !required,
        s"table port '$name' is not connected in this node's graph bindings; " +
          "pass required = false for an optional port")
      new Table(this, store, mode, required, connected)
    })
  }

  private def isNameConnected(name: String): Boolean =
    !bindingsInstalled || bindings.contains(name) ||
      bindings.valuesIterator.contains(name)

  /** Install port→store bindings from graph config (B8). */
  def withBindings(b: Map[String, String]): GraftEngine = {
    bindings = b; bindingsInstalled = true; this
  }

  // Named-schema registry (node.py:271-283: Table.init's schema may be
  // "a str name of a commonmodel schema"): the engine-level map a schema
  // NAME resolves through. Registered once per engine, referenced from any
  // number of table inits.
  private val schemaRegistry =
    mutable.Map.empty[String, org.apache.spark.sql.types.StructType]

  /** Register a named schema for `Table.init(schema = name)` resolution. */
  def registerSchema(name: String,
      schema: org.apache.spark.sql.types.StructType): GraftEngine = {
    schemaRegistry(name) = schema; this
  }

  def resolveSchema(name: String): Option[org.apache.spark.sql.types.StructType] =
    schemaRegistry.get(name)

  /** Inject node parameters (graph.yml `parameters:` block, B10). */
  def withParameters(p: Map[String, Any]): GraftEngine = { params = p; this }

  /** Resolve a typed parameter (node.py:516-542). */
  def parameter[A](p: Parameter[A]): A = p.resolve(params)

  def parameters: Map[String, Any] = params

  /** SQL over any set of catalog tables: register each active version as a
    * temp view under its sqlName, then delegate to Spark SQL (A4/B2 —
    * node.py:168-189, create.py:239-244).
    */
  def sql(query: String, tables: Seq[String] = Nil): DataFrame = {
    // explicit names: unconnected names are SKIPPED (graceful degradation,
    // same as the default already-opened-ports branch) — without opening
    // them through table(required = false), which would memoize a dummy
    // that a later REQUIRED table(name) call silently receives instead of
    // failing loudly
    val tabs = if (tables.nonEmpty) tables.flatMap { name =>
      val store = bindings.getOrElse(name, name)
      opened.get(store).orElse(
        if (isNameConnected(name)) Some(table(name)) else None)
    } else opened.values.toSeq
    // analysis is EAGER (the returned frame holds resolved scans, not view
    // references), so the views can be dropped immediately — leaving them
    // registered would let a LATER caller on the same SparkSession resolve
    // another node's stale table snapshot instead of failing the declared-
    // dataflow check (and read a version dir retention may since have gc'd)
    GraftEngine.withViews(spark,
      tabs.filter(_.isConnected).map(t => t.sqlName -> t.read))(spark.sql(query))
  }

  /** Streams register here so normal execution end persists their progress
    * (node.py:41-47 — a consumed record stays consumed "regardless of what
    * happens after"; explicit checkpoint/rollback exist for mid-execution
    * error recovery only). One Stream instance per (table, order_by) per
    * execution — re-opening the same stream resumes the SAME in-memory
    * cursor, so a later instance can never regress progress an earlier one
    * made (cursor identity is per (node, table, order_by), SURVEY §7.4.1).
    */
  private[api] def streamFor(key: String)(mk: => Stream): Stream =
    openedStreams.getOrElseUpdate(key, mk)

  /** Execution end: flush every buffered write port (node.py:407-414) and
    * persist every opened stream's consumption cursor (node.py:41-47) —
    * without this, a node that consumes and finishes cleanly would re-read
    * all records next run, breaking the exactly-once contract.
    */
  def endExecution(): Unit = {
    opened.values.foreach(_.flush())
    openedStreams.values.foreach(_.checkpoint())
  }
}

object GraftEngine {
  /** One lock per (session, view name): temp views are session-global, so
    * two engines (or two cascade nodes sharing a batch) registering the
    * same store name would otherwise drop each other's view mid-analysis.
    */
  private val viewLocks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, Object]]())

  private def viewLock(spark: SparkSession, view: String): Object =
    viewLocks.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent(view, _ => new Object)

  /** Register each (name, frame) as a temp view, run `body` (which must
    * analyze eagerly), then drop the views — atomically per (session, view
    * name): callers holding overlapping names run one at a time, locks
    * taken in name order so two callers never deadlock.
    */
  private[graft] def withViews[A](spark: SparkSession,
      views: Seq[(String, DataFrame)])(body: => A): A = {
    val names = views.map(_._1).distinct.sorted
    def locked(rest: List[String]): A = rest match {
      case n :: tail => viewLock(spark, n).synchronized(locked(tail))
      case Nil =>
        views.foreach { case (n, df) => df.createOrReplaceTempView(n) }
        try body finally names.foreach(spark.catalog.dropTempView)
    }
    locked(names.toList)
  }
}
