package org.apache.spark.sql.graft

import scala.util.Try

import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}

/** Compile-time-checked bridge to the `private[sql]` schema calls that
  * parquet schema merging is built from, so the catalog's commit-time
  * schema stamp folds footers exactly the way a `mergeSchema` read does
  * (`ParquetFileFormat.mergeSchemasInParallel`): each file's schema is the
  * Spark schema its writer recorded in the footer, and files fold left in
  * path order with `StructType.merge`.
  */
object SchemaInternals {

  /** Footer key/value entry under which Spark's parquet writer records the
    * Spark schema of the rows in the file.
    */
  val FooterKey: String = ParquetReadSupport.SPARK_METADATA_KEY

  /** The schema recorded under [[FooterKey]], or None when it does not
    * parse as a Spark struct (files from other writers, pre-JSON Spark).
    */
  def parse(json: String): Option[StructType] =
    Try(DataType.fromJson(json)).toOption.collect { case s: StructType => s }

  /** `a` merged with `b` (a's columns first, b's new columns appended),
    * nullable like every file-source read schema. Throws on incompatible
    * types, as the `mergeSchema` read does.
    */
  def merge(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive).asNullable
}
