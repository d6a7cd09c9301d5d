package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Stateful exactly-once cursor over a Table (reference node.py:18-81):
  * consume each record at most once, in the total order of `orderBy`, with
  * progress persisted across executions via node State.
  *
  * Semantics reproduced faithfully (SURVEY.md §7.4.1):
  *   - the cursor is strictly-greater-than: `seek(v)` consumes records with
  *     order value strictly above v (node.py:71-76), so a record sorting at
  *     or below the cursor is never seen again — late data is dropped, by
  *     design; ties on a non-unique orderBy can skip rows, which is exactly
  *     why the monotonic-id schema role exists (node.py:286-294);
  *   - records are marked consumed as they are yielded (node.py:40-52);
  *   - `checkpoint` persists, `rollback` reverts to the last persisted
  *     position (execution start or last checkpoint), `rewind` restarts
  *     from the beginning (node.py:54-68).
  *
  * Scale: a consume reads only the listed files of the active version
  * whose stamped max of the order column may lie above the cursor
  * ([[graft.catalog.VersionInfo.after]]), so its cost follows what is
  * new, not the table's history; when no file qualifies, nothing is new
  * and no Spark job runs. The plan over those files is
  * filter(orderBy > cursor) + orderBy, the filter pushed into the parquet
  * scan. Files under the driver-residency bound
  * ([[Table.driverResident]]: bytes and stamped rows within
  * `spark.sql.autoBroadcastJoinThreshold`) are read in one pass, one task,
  * sorted within that partition, and held whole on the driver; above the
  * bound only one partition at a time is resident, via toLocalIterator
  * over the globally sorted plan.
  */
class Stream(table: Table, val orderByField: String, state: State,
    startingValue: Option[Any] = None) {

  private val stateKey = s"stream::${table.name}::$orderByField"

  /** In-memory consumption position; persisted only on checkpoint. */
  private var cursor: Option[Any] = startingValue.orElse(loadPersisted())

  /** What rollback restores: the position at execution start (INCLUDING a
    * constructor startingValue — reloading from persisted state alone
    * would discard it and replay records the caller declared consumed),
    * advanced to the cursor on every checkpoint (node.py:60-63 "execution
    * start or last checkpoint").
    */
  private var restorePoint: Option[Any] = cursor

  private def loadPersisted(): Option[Any] =
    state.get(stateKey).filter(_ != null)

  /** The plan a consume runs now: the unconsumed rows of the files past
    * the cursor, in order.
    */
  private[graft] def plan(): DataFrame =
    plan(table.readOf(table.activeStamp.flatMap(_.after(orderByField, cursor))))

  private def plan(base: DataFrame): DataFrame =
    unconsumed(base).orderBy(col(orderByField).asc)

  /** The unconsumed rows of `base` (a read of the table), unordered. */
  private def unconsumed(base: DataFrame): DataFrame = {
    // an unconnected/never-written table has no columns — yield the empty
    // stream (dummy-object semantics, node.py:232-238) instead of failing
    // analysis; a populated table missing the orderBy column still errors
    if (base.columns.isEmpty) {
      val s = base.sparkSession
      s.createDataFrame(s.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(orderByField,
            org.apache.spark.sql.types.StringType))))
    } else {
      // rows with a NULL ordering value are invisible to the stream BY
      // CONTRACT: a null cannot define a position — consuming one would
      // set cursor = null, whose strictly-greater filter is null for
      // every row (the rest of the run silently skips) and whose persisted
      // JNull is discarded on reload (the next run replays everything) —
      // breaking exactly-once in both directions
      val nonNull = base.filter(col(orderByField).isNotNull)
      cursor match {
        case Some(v) => nonNull.filter(col(orderByField) > lit(v))
        case None => nonNull
      }
    }
  }

  /** Iterate unconsumed records in order, advancing the in-memory cursor as
    * each row is yielded (node.py:40-52).
    */
  def consumeRecords(): Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    // one manifest snapshot decides, and is read: the files past the cursor
    val fresh = table.activeStamp.flatMap(_.after(orderByField, cursor))
    val it =
      if (fresh.isEmpty) Iterator.empty
      // one pass, one task: Spark's own sort order within the single
      // partition instead of a range-partitioned global sort, which
      // samples the unconsumed rows in a job of its own first
      else if (fresh.exists(table.driverResident))
        unconsumed(table.readOf(fresh)).coalesce(1)
          .sortWithinPartitions(col(orderByField).asc).collect().iterator
      else plan(table.readOf(fresh)).toLocalIterator().asScala
    new Iterator[Row] {
      def hasNext: Boolean = it.hasNext
      def next(): Row = {
        val r = it.next()
        cursor = Some(r.getAs[Any](orderByField))
        r
      }
    }
  }

  /** `with_metadata` variant (node.py:40-41): each record paired with its
    * stream metadata — the orderBy position the record was consumed at
    * (what `seek` accepts and `checkpoint` persists). Same marked-consumed-
    * as-yielded contract as [[consumeRecords]].
    */
  def consumeRecordsWithMetadata(): Iterator[(Row, Any)] = {
    val it = consumeRecords()
    new Iterator[(Row, Any)] {
      def hasNext: Boolean = it.hasNext
      def next(): (Row, Any) = {
        val r = it.next()
        (r, r.getAs[Any](orderByField))
      }
    }
  }

  /** Persist consumption progress (node.py:54-58). */
  def checkpoint(): Unit = {
    cursor.foreach(v => state.set(stateKey, normalize(v)))
    restorePoint = cursor
  }

  /** Revert to execution start / last checkpoint (node.py:60-63). */
  def rollback(): Unit = cursor = restorePoint

  /** Restart from the beginning of the stream (node.py:65-68). */
  def rewind(): Unit = {
    cursor = None; restorePoint = None; state.remove(stateKey)
  }

  /** Position the cursor: consume records strictly greater than `value`
    * (node.py:70-76).
    */
  def seek(value: Any): Unit = cursor = Some(value)

  /** Current position (for tests / introspection). */
  def position: Option[Any] = cursor

  /** JSON-persistable cursor value. */
  private def normalize(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toString
    case other => other
  }
}
