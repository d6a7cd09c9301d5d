package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.api.{GraftEngine, Table}
import graft.catalog.VersionInfo

/** A version is its self-stamped file list: after every op of a random
  * sequence (flushes, some adding a column; upserts touching 1..8 buckets;
  * replace, truncate, compact, reset; gc with and without a read lease)
  * over a small flat or 8-bucket table, each live version's derived rows,
  * maxes and schema equal a fresh footer recompute over exactly its
  * listed files, every listed file exists, the table reads as a model of
  * the ops says, and gc leaves no unlisted parquet file while live and
  * leased versions read as before.
  */
class StampFoldSpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Op
  private case class Flush(rows: List[(Long, String)], addColumn: Boolean) extends Op
  private case class Upsert(buckets: List[Int]) extends Op
  private case class Replace(rows: List[(Long, String)]) extends Op
  private case object Truncate extends Op
  private case object Compact extends Op
  private case object Reset extends Op
  private case class Gc(lease: Boolean) extends Op

  private val rowsGen: Gen[List[(Long, String)]] = Gen.choose(1, 6).flatMap(n =>
    Gen.listOfN(n, Gen.zip(Gen.choose(0L, 40L), Gen.alphaLowerStr.map(_.take(3)))))

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> Gen.zip(rowsGen, Gen.prob(0.3)).map { case (r, c) => Flush(r, c) },
    4 -> Gen.choose(1, 8).flatMap(n => Gen.pick(n, 0 until 8)).map(b => Upsert(b.toList)),
    1 -> rowsGen.map(Replace(_)),
    1 -> Gen.const(Truncate),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Reset),
    2 -> Gen.prob(0.5).map(Gc(_)))

  /** Keys 0..199 by the bucket of 8 the table hashes them to. */
  private val keysOfBucket: Map[Int, Seq[Long]] = {
    val bucket = Table.bucketFn(Seq(0 -> LongType), 8)
    (0L until 200L).groupBy(k => bucket(InternalRow(k)))
  }

  private def sample[A](g: Gen[A], seed: Long): A =
    g(Gen.Parameters.default, Seed(seed)).get

  /** Every live version's stamps equal a fresh footer recompute, and every
    * listed file exists.
    */
  private def checkStamps(e: GraftEngine, t: Table, ctx: String): Unit =
    e.catalog.refresh(t.name).get.versions.foreach { v =>
      v.files.foreach(f => assert(Files.exists(e.catalog.tableDir(t.name).resolve(f.path)),
        s"$ctx: ${v.id} lists a missing file ${f.path}"))
      val (fresh, schema) = t.footerStatsCore(v.files)
      val recomputed = v.copy(files = fresh.toList, schema = schema.filter(_.nonEmpty).map(_.json))
      assert(fresh == v.files, s"$ctx: ${v.id}'s file stamps")
      assert(v.rowCount == recomputed.rowCount, s"$ctx: ${v.id}'s rows")
      assert(v.cursorMax == recomputed.cursorMax, s"$ctx: ${v.id}'s maxes")
      assert(v.readSchema == recomputed.readSchema, s"$ctx: ${v.id}'s schema")
    }

  private def rowsOf(t: Table, v: Option[VersionInfo]): Seq[(Long, String)] = {
    val df = t.readOf(v)
    if (df.columns.isEmpty) Nil
    else df.select("id", "v").as[(Long, String)].collect().toSeq.sorted
  }

  private def run(seed: Long, buckets: Int): Unit = {
    val e = new GraftEngine(spark, freshRoot())
    val name = s"fold_$seed"
    val t = e.table(name, "w").init(uniqueOn = Seq("id"), bucketBy = buckets)
    val ops = sample(Gen.listOfN(10, opGen), seed)
    var model = Seq.empty[(Long, String)]
    var added = 0
    ops.zipWithIndex.foreach { case (op, i) =>
      val ctx = s"seed=$seed buckets=$buckets op $i $op"
      op match {
        case Flush(rows, addColumn) =>
          val df = rows.toDF("id", "v")
          t.append(if (addColumn) { added += 1; df.withColumn(s"c$added", col("id") * 10) } else df)
          t.flush()
          model ++= rows
        case Upsert(bs) =>
          val rows = bs.map(b => keysOfBucket(b)(i % keysOfBucket(b).size)).map(k => (k, s"u$i"))
          t.upsert(rows.toDF("id", "v"))
          model = model.filterNot(r => rows.exists(_._1 == r._1)) ++ rows
        case Replace(rows) =>
          t.replace(rows.toDF("id", "v"))
          model = rows
        case Truncate =>
          t.truncate()
          model = Nil
        case Compact =>
          t.compact()
        case Reset =>
          t.reset()
          model = Nil
        case Gc(lease) =>
          val m = e.catalog.refresh(name).get
          val leased = if (!lease) None else
            m.versions.find(v => !m.activeVersion.contains(v.id))
              .map(v => e.catalog.acquireReadLease(name, v.id))
          val before = m.versions.map(v => v.id -> rowsOf(t, Some(v))).toMap
          e.catalog.gc(name, 0L)
          val after = e.catalog.refresh(name).get
          leased.foreach(l =>
            assert(after.versions.exists(_.id == l.vid), s"$ctx: swept a leased version"))
          after.versions.foreach(v =>
            assert(rowsOf(t, Some(v)) == before(v.id), s"$ctx: ${v.id} reads differently after gc"))
          val listed = after.versions.flatMap(_.files.map(_.path)).toSet
          val dir = e.catalog.tableDir(name)
          val parquet = Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".parquet"))
            .map(dir.relativize(_).toString.replace('\\', '/')).toSet
          assert(parquet == listed, s"$ctx: unlisted files survive gc: ${parquet -- listed}")
          leased.foreach(_.release())
      }
      checkStamps(e, t, ctx)
      assert(rowsOf(t, e.catalog.activeInfo(name)) == model.sorted, s"$ctx: rows")
    }
  }

  test("a version's derived rows, maxes and schema equal a fresh footer recompute after every op; gc frees only unlisted files") {
    for (seed <- 1L to 3L) run(seed, buckets = 8)
    for (seed <- 4L to 5L) run(seed, buckets = 0)
  }
}
