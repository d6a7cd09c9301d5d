package graft

import scala.jdk.CollectionConverters._

import graft.api.GraftEngine

/** Hash-bucketed table layout: partition-level upsert + pruned lookup
  * (the 100 TB write path — IMPLEMENTATION.md §100 TB design notes).
  */
class BucketedTableSpec extends SparkSpec {
  import spark.implicits._

  private def engine() = new GraftEngine(spark, freshRoot())

  /** The bucket count a version's manifest entry records. */
  private def recorded(e: GraftEngine, table: String, vid: String): Option[Int] =
    e.catalog.refresh(table).flatMap(_.versions.find(_.id == vid)).flatMap(_.buckets)

  test("bucketBy lays versions out as __bucket=K dirs; read hides the column") {
    val e = engine()
    val t = e.table("b1", "w").init(uniqueOn = Seq("id"), bucketBy = 4)
    t.append((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")); t.flush()
    val vdir = e.catalog.versionDir("b1", t.getActiveVersion.get).toFile
    val buckets = vdir.listFiles().filter(_.getName.startsWith("__bucket="))
    assert(buckets.nonEmpty && buckets.length <= 4)
    assert(!t.read.columns.contains("__bucket"))
    assert(t.read.count() == 20)
  }

  test("bucketed upsert rewrites only the affected bucket and lists the parent's other files; gc frees files, not dirs") {
    val e = engine()
    val t = e.table("b2", "w").init(uniqueOn = Seq("id"), bucketBy = 8)
    t.append((1L to 100L).map(i => (i, s"old$i")).toDF("id", "v")); t.flush()
    val v1 = e.catalog.activeInfo("b2").get
    assert(v1.files.size == 8, "one file per bucket")

    // one incoming key -> exactly one affected bucket
    t.upsert(Seq((7L, "NEW")).toDF("id", "v"))
    val v2 = e.catalog.activeInfo("b2").get
    assert(v2.id != v1.id)
    val (own, kept) = v2.files.partition(_.path.startsWith(s"${v2.id}/"))
    // the 7 untouched buckets are the parent's entries, paths and stamps
    // as they were; the new dir holds only the rewritten bucket's file
    assert(kept.size == 7 && kept.forall(v1.files.contains), s"not the parent's: $kept")
    assert(own.size == 1 && !kept.exists(_.bucket == own.head.bucket))
    assert(e.catalog.filesOnDisk("b2", v2.id).map(_.path) == own.map(_.path))
    val expected = (1L to 100L).map(i => i -> (if (i == 7L) "NEW" else s"old$i"))
    def rows = t.read.as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows == expected, "the merge a full copy would write")

    // sweeping the parent frees its rewritten bucket's file only: the 7
    // files v2 lists survive, and the read is unchanged
    assert(e.catalog.gc("b2", 0L) == 1)
    assert(kept.forall(f => java.nio.file.Files.exists(e.catalog.tableDir("b2").resolve(f.path))))
    assert(!java.nio.file.Files.exists(e.catalog.tableDir("b2").resolve(
      v1.files.filterNot(kept.contains).head.path)))
    assert(rows == expected)

    // once v2 is swept too, nothing of v1's dir is listed: it goes, and no
    // parquet file is left that no version lists
    t.replace(Seq((1L, "only")).toDF("id", "v"))
    assert(e.catalog.gc("b2", 0L) == 1)
    assert(!e.catalog.versionDir("b2", v1.id).toFile.exists)
    val listed = e.catalog.activeInfo("b2").get.files.map(_.path).toSet
    val onDisk = java.nio.file.Files.walk(e.catalog.tableDir("b2")).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(e.catalog.tableDir("b2").relativize(_).toString).toSet
    assert(onDisk == listed)
  }

  test("lookup scans one bucket and finds the row (typed key literal)") {
    val e = engine()
    val t = e.table("b3", "w").init(uniqueOn = Seq("id"), bucketBy = 4)
    t.append((1L to 50L).map(i => (i, i * 10L)).toDF("id", "x")); t.flush()
    // Int passed for a Long key column must still hash to the right bucket
    val hit = t.lookup(Seq(13)).as[(Long, Long)].collect().toSeq
    assert(hit == Seq((13L, 130L)))
    assert(t.lookup(Seq(999L)).count() == 0)
  }

  test("flush after gaining bucketBy keeps the open version's unbucketed layout (no mixed dirs)") {
    val e = engine()
    val t = e.table("b5", "w").init(uniqueOn = Seq("id"))
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    t.init(uniqueOn = Seq("id"), bucketBy = 4)
    t.append(Seq((2L, "b")).toDF("id", "v")); t.flush() // same version: stay unbucketed
    assert(t.read.count() == 2) // a mixed dir would fail this read outright
    val vdir = e.catalog.versionDir("b5", t.getActiveVersion.get).toFile
    assert(!vdir.listFiles().exists(_.getName.startsWith("__bucket=")))
    t.upsert(Seq((3L, "c")).toDF("id", "v")) // upsert migrates the layout
    assert(t.read.as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("changing bucketBy on an already-bucketed table never duplicates or loses keys") {
    val e = engine()
    val t = e.table("b7", "w").init(uniqueOn = Seq("id"), bucketBy = 4)
    t.append((1L to 40L).map(i => (i, s"old$i")).toDF("id", "v")); t.flush()
    val v1 = t.getActiveVersion.get
    // the version records the count it was hashed with
    assert(recorded(e, "b7", v1) == Some(4))

    t.init(uniqueOn = Seq("id"), bucketBy = 8) // meta count now differs from layout
    // lookup pre-migration: pruned path would hash with n=8 against a
    // 4-bucket layout — must fall back to the filtered full read
    assert(t.lookup(Seq(13L)).as[(Long, String)].collect().toSeq ==
      Seq((13L, "old13")))
    // flush pre-migration: append must follow the DIR's original count, not
    // meta's — a mixed-count dir would corrupt every later pruned scan
    t.append(Seq((41L, "old41")).toDF("id", "v")); t.flush()
    assert(t.read.count() == 41)

    // upsert with mismatched counts takes the full-rewrite path: the old
    // row of an updated key can't survive in a verbatim-copied bucket
    t.upsert(Seq((13L, "NEW"), (42L, "new42")).toDF("id", "v"))
    val rows = t.read.as[(Long, String)].collect()
    assert(rows.length == 42, "no duplicate keys after rebucketing")
    assert(rows.toMap.apply(13L) == "NEW" && rows.toMap.apply(41L) == "old41")
    // migrated version is hashed with (and remembers) the new count
    val v2 = t.getActiveVersion.get
    assert(recorded(e, "b7", v2) == Some(8))
    assert(t.lookup(Seq(13L)).as[(Long, String)].collect().toSeq == Seq((13L, "NEW")))
    // and partition-level upsert works again on the migrated layout
    t.upsert(Seq((13L, "NEWER")).toDF("id", "v"))
    assert(t.read.count() == 42)
    assert(t.lookup(Seq(13L)).as[(Long, String)].collect().toSeq == Seq((13L, "NEWER")))
  }

  test("truncate on a bucketed table keeps the schema") {
    val e = engine()
    val t = e.table("b6", "w").init(uniqueOn = Seq("id"), bucketBy = 4)
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    t.truncate()
    assert(t.read.count() == 0)
    assert(t.schema.get.fieldNames.toSeq == Seq("id", "v"))
  }

  test("upsert on a table that gained bucketBy after unbucketed writes falls back to full rewrite") {
    val e = engine()
    val t = e.table("b4", "w").init(uniqueOn = Seq("id"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")); t.flush()
    t.init(uniqueOn = Seq("id"), bucketBy = 4)
    t.upsert(Seq((2L, "B"), (3L, "c")).toDF("id", "v"))
    val rows = t.read.as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // and the new version is bucket-partitioned going forward
    val vdir = e.catalog.versionDir("b4", t.getActiveVersion.get).toFile
    assert(vdir.listFiles().exists(_.getName.startsWith("__bucket=")))
  }

  test("reset() on a bucketed table records the layout before any file exists") {
    val e = engine()
    val t = e.table("b9", "w").init(uniqueOn = Seq("id"), bucketBy = 4)
    t.append((1L to 12L).map(i => (i, s"v$i")).toDF("id", "v")); t.flush()
    t.reset()
    val vid = t.getActiveVersion.get
    assert(e.catalog.versionInfo("b9", vid).exists(_.files.isEmpty))
    assert(recorded(e, "b9", vid) == Some(4))
  }

  test("reset() then init(bucketBy = m): the first flush lays out m buckets, lookup prunes to one") {
    val e = engine()
    val t = e.table("b10", "w").init(uniqueOn = Seq("id"), bucketBy = 4)
    t.append((1L to 64L).map(i => (i, s"old$i")).toDF("id", "v")); t.flush()
    t.reset()
    t.init(uniqueOn = Seq("id"), bucketBy = 8)
    t.append((1L to 64L).map(i => (i, s"v$i")).toDF("id", "v")); t.flush()
    val vid = t.getActiveVersion.get
    assert(recorded(e, "b10", vid) == Some(8))
    val dirs = e.catalog.versionDir("b10", vid).toFile.listFiles()
      .filter(_.getName.startsWith("__bucket=")).map(_.getName).toSet
    assert(dirs == (0 until 8).map(k => s"__bucket=$k").toSet)
    val hit = t.lookup(Seq(13L))
    assert(hit.as[(Long, String)].collect().toSeq == Seq((13L, "v13")))
    val scanned = hit.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.getName).toSet
    assert(scanned.size == 1 && dirs(scanned.head), s"lookup scanned $scanned")
  }
}
