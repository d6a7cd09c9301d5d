package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CreateStruct, Expression, InSet, IsNull, Not, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** Compile-time-checked bridge to the `private[sql]` calls a write path
  * needs to keep a driver-resident batch on the driver: reading the rows
  * of a frame whose optimized plan is already a `LocalRelation` (webhook
  * batches, rows built by node code — the optimizer folds projections and
  * casts over such a relation into a new one), and wrapping rows computed
  * on the driver back into a `LocalRelation` frame without a Row round
  * trip, so every value stays bit-identical to what Spark would hold.
  */
object LocalInternals {

  /** Schema and rows, in plan order, when `df`'s optimized plan is a
    * (non-streaming) `LocalRelation` or a `Union` of them — the order a
    * `LocalTableScanExec` (contiguous slices) and a `UnionExec` (children
    * in order) hand the rows to tasks. None for any other plan.
    */
  def localRows(df: DataFrame): Option[(StructType, Seq[InternalRow])] = {
    def rows(p: LogicalPlan): Option[Seq[InternalRow]] = p match {
      case l: LocalRelation if !l.isStreaming => Some(l.data)
      case u: Union if u.children.nonEmpty =>
        val parts = u.children.map(rows)
        if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get)) else None
      case _ => None
    }
    // optimized in a fresh QueryExecution, not the frame's own: folding a
    // local relation evaluates user expressions on the driver, and Spark
    // memoizes an optimizer failure on the QueryExecution, so a buffered
    // frame whose flush failed once would fail its retry the same way
    val qe = df.asInstanceOf[ClassicDataset[Row]].queryExecution
    val plan = qe.sparkSession.sessionState.executePlan(qe.analyzed).optimizedPlan
    rows(plan).map(r => (DataTypeUtils.fromAttributes(plan.output), r))
  }

  /** A frame over driver-held rows (a `LocalRelation`, as
    * `createDataFrame` of a local collection builds).
    */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `df` without the rows whose key columns `keys` (of types `types`)
    * equal one of the driver-held tuples `present` (each non-null, values
    * in Catalyst's internal form), as one filter: a row with a null key
    * is kept — the null semantics of a `left_anti` join on `keys`. None
    * when a key's type in `df` differs from `types` (the join would
    * coerce them first).
    */
  def withoutKeys(df: DataFrame, keys: Seq[String], types: Seq[DataType],
      present: Iterator[Seq[Any]]): Option[DataFrame] = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    val plan = ds.queryExecution.analyzed
    val resolver = ds.sparkSession.sessionState.analyzer.resolver
    // resolved as a join's using-columns are: by name against the output
    val attrs = keys.flatMap(k => plan.output.find(a => resolver(a.name, k)))
    if (attrs.size != keys.size || attrs.map(_.dataType) != types) None
    else {
      val key: Expression = if (attrs.size == 1) attrs.head else CreateStruct(attrs)
      val set: Set[Any] = present.map { k =>
        val v = k.map(InternalRow.copyValue)
        if (attrs.size == 1) v.head else InternalRow.fromSeq(v)
      }.toSet
      val anyNull = attrs.map(a => IsNull(a): Expression).reduce(Or(_, _))
      Some(ClassicDataset.ofRows(ds.sparkSession,
        Filter(Or(anyNull, Not(InSet(key, set))), plan)))
    }
  }

  /** A string type whose equality and ordering are plain byte equality
    * and order (the default UTF8_BINARY collation), so driver-side
    * `UTF8String` equals/compareTo agree with Spark's.
    */
  def binaryString(dt: DataType): Boolean = dt match {
    case s: StringType => s.supportsBinaryEquality && s.supportsBinaryOrdering
    case _ => false
  }
}
