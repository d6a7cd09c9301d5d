package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, StructType}

import graft.api.{GraftEngine, Table}

/** Commit-time schema stamp (VersionInfo.schema): on every write path the
  * stamp must equal what a `mergeSchema` read of the version's listed
  * files infers, and a read through the stamp must return the same rows.
  * A read in the middle of a write sees exactly the committed version.
  */
class SchemaStampSpec extends SparkSpec {
  import spark.implicits._

  private def engine(root: String = freshRoot()) = new GraftEngine(spark, root)

  private def stampOf(e: GraftEngine, t: Table): Option[StructType] = {
    val m = e.catalog.refresh(t.name).get
    m.versions.find(v => m.activeVersion.contains(v.id)).flatMap(_.schema)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  private def inferredRead(e: GraftEngine, t: Table): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(e.catalog.activeInfo(t.name).get
      .files.map(f => e.catalog.tableDir(t.name).resolve(f.path).toString): _*)

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** The stamp equals the inferred schema, and reading through it returns
    * the inferred read's rows.
    */
  private def assertStampEquivalent(e: GraftEngine, t: Table): StructType = {
    val stamp = stampOf(e, t)
    val inferred = inferredRead(e, t)
    assert(stamp.contains(inferred.schema),
      s"stamp $stamp != inferred ${inferred.schema}")
    assert(t.read.schema == inferred.schema)
    assert(t.schema.contains(inferred.schema))
    assert(rowsOf(t.read) == rowsOf(inferred))
    stamp.get
  }

  test("first flush, append and a column-adding append stamp the inferred schema") {
    val e = engine()
    val t = e.table("s1", "w").init(addMonotonicId = "mid", addCreated = "ts")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")); t.flush()
    val s1 = assertStampEquivalent(e, t)
    assert(s1.fieldNames.toSeq == Seq("id", "v", "ts", "mid"))
    t.append(Seq((3L, "c")).toDF("id", "v")); t.flush()
    assert(assertStampEquivalent(e, t) == s1)
    // the incremental stamp merges the new files' schema in
    t.append(Seq((4L, "d", 4.5)).toDF("id", "v", "extra")); t.flush()
    val s3 = assertStampEquivalent(e, t)
    assert(s3.fieldNames.toSeq == Seq("id", "v", "ts", "mid", "extra"))
    assert(t.read.filter($"id" === 1L).select("extra").head().isNullAt(0))
  }

  test("bucketed and unbucketed upsert stamp the inferred schema") {
    val e = engine()
    val b = e.table("s2b", "w").init(uniqueOn = Seq("id"), bucketBy = 4)
    b.append((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")); b.flush()
    assertStampEquivalent(e, b)
    b.upsert(Seq((3L, "NEW")).toDF("id", "v")) // partial bucket rewrite
    assertStampEquivalent(e, b)
    b.upsert(Seq((5L, "W", 7)).toDF("id", "v", "w")) // widens through it
    assert(assertStampEquivalent(e, b).fieldNames.contains("w"))
    assert(b.lookup(Seq(5L)).select("w").head().getInt(0) == 7)
    assert(b.lookup(Seq(6L)).columns.contains("w"))
    assert(b.read.count() == 40)

    val u = e.table("s2u", "w").init(uniqueOn = Seq("id"))
    u.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")); u.flush()
    u.upsert(Seq((3L, "NEW", true)).toDF("id", "v", "flag"))
    assert(assertStampEquivalent(e, u).fieldNames.contains("flag"))
    assert(u.read.count() == 10)
  }

  test("replace, truncate and compaction (plain and bucketed) stamp the inferred schema") {
    val e = engine()
    val t = e.table("s3", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    t.append(Seq((2L, "b", 2.0)).toDF("id", "v", "x")); t.flush()
    t.compact()
    assert(assertStampEquivalent(e, t).fieldNames.toSeq == Seq("id", "v", "x"))
    t.replace(Seq(("k", 9)).toDF("key", "n"))
    assert(assertStampEquivalent(e, t).fieldNames.toSeq == Seq("key", "n"))
    t.truncate()
    assert(assertStampEquivalent(e, t).fieldNames.toSeq == Seq("key", "n"))
    assert(t.read.count() == 0)

    val b = e.table("s3b", "w").init(uniqueOn = Seq("id"), bucketBy = 4)
    b.append((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")); b.flush()
    b.append((21L to 30L).map(i => (i, s"v$i", i)).toDF("id", "v", "n")); b.flush()
    b.compact()
    assertStampEquivalent(e, b)
    assert(b.read.count() == 30)
  }

  test("reset leaves a fileless version unstamped and reading as empty") {
    val e = engine()
    val t = e.table("s4", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    t.reset()
    assert(stampOf(e, t).isEmpty)
    assert(t.schema.isEmpty && t.read.count() == 0)
    t.append(Seq((2L, "b")).toDF("id", "v")); t.flush()
    assertStampEquivalent(e, t)
  }

  test("an init(bucketBy) change migrates the layout with an equivalent stamp") {
    val e = engine()
    val t = e.table("s5", "w").init(uniqueOn = Seq("id"), bucketBy = 4)
    t.append((1L to 30L).map(i => (i, s"v$i")).toDF("id", "v")); t.flush()
    t.init(uniqueOn = Seq("id"), bucketBy = 3)
    t.upsert(Seq((2L, "NEW", 1L)).toDF("id", "v", "y")) // full rewrite, 3 buckets
    assertStampEquivalent(e, t)
    t.upsert(Seq((4L, "N4", 2L)).toDF("id", "v", "y")) // partial, 3 buckets
    assertStampEquivalent(e, t)
    assert(t.read.count() == 30)
  }

  test("a mid-flush read sees exactly the committed rows and columns") {
    val root = freshRoot()
    val e = engine(root)
    val t = e.table("s7", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    val committed = stampOf(e, t)
    assert(committed.nonEmpty)
    var seen = Seq.empty[(Option[StructType], Seq[String], Seq[String], Seq[String], Seq[String])]
    // the hook runs after the column-adding write, before its files are
    // registered: readers on this catalog and on a second engine over the
    // same root see the committed version, not the files on disk
    Table.postAppendHook = () => {
      val other = engine(root).table("s7")
      seen :+= ((stampOf(e, t), t.read.columns.toSeq, rowsOf(t.read),
        other.read.columns.toSeq, rowsOf(other.read)))
    }
    try { t.append(Seq((2L, "b", 2.5)).toDF("id", "v", "extra")); t.flush() }
    finally Table.postAppendHook = () => ()
    val Seq((midStamp, mine, myRows, theirs, theirRows)) = seen
    assert(midStamp == committed, "the stamp changes only at registration")
    assert(mine == Seq("id", "v") && theirs == Seq("id", "v"))
    assert(myRows == Seq("1|a") && theirRows == Seq("1|a"))
    // after the commit both see the new column and rows
    val other = engine(root).table("s7")
    assert(t.read.columns.contains("extra") && other.read.columns.contains("extra"))
    assert(rowsOf(other.read) == rowsOf(t.read) && t.read.count() == 2)
    assertStampEquivalent(e, t)
  }
}
