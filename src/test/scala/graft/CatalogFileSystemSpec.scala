package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{GraftEngine, Table}
import graft.catalog.CatalogFileSystem

/** The filesystem the engine's writes run on: the files, `.crc` files and
  * directories a write leaves carry the modes the stock local filesystem
  * gives them, set in-process; only modes NIO cannot express go through
  * Hadoop's own `setPermission`; nothing of it leaks into the session.
  */
class CatalogFileSystemSpec extends SparkSpec {
  import spark.implicits._

  /** Permission bits of a path (sticky bit included). */
  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & 0xfff

  /** Mode of every path under `dir`, keyed by its relative path with part
    * file names generalised, so two writes of the same rows line up.
    */
  private def modes(dir: String): Map[String, Set[Int]] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).toSeq
      .groupBy(p => root.relativize(p).toString.replaceAll("part-[^/]*", "part-*"))
      .map { case (k, ps) => k -> ps.map(mode).toSet }
    finally walk.close()
  }

  private def dataFilesKeepCrc(dir: String): Unit = {
    val walk = Files.walk(Paths.get(dir))
    val parts = try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toVector
      finally walk.close()
    assert(parts.nonEmpty, dir)
    parts.foreach(p => assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), p))
  }

  /** The same rows through `df.write.parquet` on the session's stock filesystem. */
  private def stock(df: DataFrame, bucketed: Boolean): Map[String, Set[Int]] = {
    val p = freshRoot() + "/stock"
    if (bucketed)
      df.withColumn("__bucket", pmod(hash(col("event_id")), lit(8)))
        .write.partitionBy("__bucket").parquet(p)
    else df.write.parquet(p)
    modes(p)
  }

  private def batch(from: Int, to: Int) =
    (from to to).map(i => (i.toLong, i % 13L, s"k$i")).toDF("event_id", "user_id", "kind")

  test("flush, bucketed upsert and replace leave the stock modes, every data file with its .crc, all set in-process") {
    val fallbacks = CatalogFileSystem.fallbacks.get
    val inProcess = CatalogFileSystem.inProcess.get
    val root = freshRoot()
    val e = new GraftEngine(spark, root)
    val dirOf = (t: Table) => e.catalog.versionDir(t.name,
      t.getActiveVersion.getOrElse(fail(s"${t.name}: no version"))).toString

    val flushed = e.table("plain", "w")
    flushed.append(batch(1, 50)); flushed.flush()
    assert(modes(dirOf(flushed)) == stock(flushed.read, bucketed = false))
    dataFilesKeepCrc(dirOf(flushed))

    // the second upsert's 200 keys touch all 8 buckets, so Spark writes
    // every bucket dir of the new version (none is a file-level copy)
    val up = e.table("events", "w").init(uniqueOn = Seq("event_id"), bucketBy = 8)
    up.upsert(batch(1, 200))
    up.upsert(batch(150, 350))
    val upDir = dirOf(up)
    assert(up.manifest.versions.find(_.id == up.getActiveVersion.get).flatMap(_.buckets)
      .contains(8), "not the bucketed path")
    assert(modes(upDir) == stock(up.read, bucketed = true))
    dataFilesKeepCrc(upDir)

    val replaced = e.table("totals", "w")
    replaced.replace(batch(1, 20).groupBy("user_id").count())
    replaced.replace(batch(1, 40).groupBy("user_id").count())
    assert(modes(dirOf(replaced)) == stock(replaced.read, bucketed = false))
    dataFilesKeepCrc(dirOf(replaced))

    assert(CatalogFileSystem.fallbacks.get == fallbacks, "a plain mode fell back to a chmod fork")
    assert(CatalogFileSystem.inProcess.get > inProcess, "no permission was set in-process")
  }

  test("a sticky-bit mode falls back to Hadoop's setPermission; plain modes stay in-process") {
    val fs = new CatalogFileSystem
    fs.initialize(new java.net.URI("file:///"), new Configuration())
    try {
      val dir = Paths.get(freshRoot(), "sticky")
      val file = Paths.get(freshRoot(), "plain")
      Files.createDirectory(dir)
      Files.write(file, Array[Byte](1))
      val (fallbacks, inProcess) = (CatalogFileSystem.fallbacks.get, CatalogFileSystem.inProcess.get)
      fs.setPermission(new HPath(dir.toUri), new FsPermission(Integer.parseInt("1750", 8).toShort))
      assert(mode(dir) == Integer.parseInt("1750", 8))
      assert(CatalogFileSystem.fallbacks.get == fallbacks + 1)
      fs.setPermission(new HPath(file.toUri), new FsPermission(Integer.parseInt("640", 8).toShort))
      assert(mode(file) == Integer.parseInt("640", 8))
      assert(CatalogFileSystem.inProcess.get >= inProcess + 1)
      assert(CatalogFileSystem.fallbacks.get == fallbacks + 1)
    } finally fs.close()
  }

  test("an engine write leaves the session's cached file: filesystem as it was") {
    val conf = spark.sparkContext.hadoopConfiguration
    val uri = new java.net.URI("file:///")
    val before = FileSystem.get(uri, conf)
    val t = new GraftEngine(spark, freshRoot()).table("t", "w")
      .init(uniqueOn = Seq("event_id"), bucketBy = 8)
    t.append(batch(1, 10)); t.flush()
    t.upsert(batch(5, 20))
    val after = FileSystem.get(uri, conf)
    assert(after.getClass == before.getClass)
    assert(after.getClass != classOf[CatalogFileSystem])
    assert(conf.get("fs.file.impl") != classOf[CatalogFileSystem].getName)
    assert(!conf.getBoolean("fs.file.impl.disable.cache", false))
  }
}
