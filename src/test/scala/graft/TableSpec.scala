package graft

import org.apache.spark.sql.functions._

import graft.api.GraftEngine

/** Version + write semantics (SURVEY.md §1.3, reference node.py:299-414). */
class TableSpec extends SparkSpec {
  import spark.implicits._

  private def engine() = new GraftEngine(spark, freshRoot())

  test("append is buffered until flush, then readable") {
    val e = engine()
    val t = e.table("t1", "w")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(!t.exists)            // buffered, nothing on disk yet
    t.flush()
    assert(t.exists)
    assert(t.read.count() == 2)
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.flush()
    assert(t.read.count() == 3)  // append accumulates in the same version
    assert(t.getActiveVersion == Some("v000001"))
  }

  test("unconnected ports are no-ops returning dummies (node.py:232-238)") {
    val e = engine().withBindings(Map("in" -> "raw", "out" -> "result"))
    val ok = e.table("out", "w")
    assert(ok.isConnected)
    ok.append(Seq((1L, "a")).toDF("id", "v")); ok.flush()
    assert(e.table("result").read.count() == 1)   // store name also connected
    intercept[IllegalArgumentException](e.table("nope", "w")) // required default
    val dummy = e.table("oops", "w", required = false)
    assert(!dummy.isConnected)
    dummy.append(Seq((1L, "a")).toDF("id", "v"))
    dummy.flush()
    dummy.replace(Seq((2L, "b")).toDF("id", "v"))
    assert(!dummy.exists && dummy.schema.isEmpty && dummy.recordCount.isEmpty)
    assert(dummy.read.count() == 0)
    assert(dummy.asStream(orderBy = "id").consumeRecords().isEmpty)
  }

  test("re-opening an already-opened optional port with defaults returns the memoized dummy") {
    val e = engine().withBindings(Map("in" -> "raw"))
    val dummy = e.table("opt", "w", required = false)
    assert(!dummy.isConnected)
    // default args must not re-enforce required=true on a port this
    // execution already opened as optional
    assert(e.table("opt") eq dummy)
    assert(e.table("opt", "w") eq dummy)
    // sql() with an explicit unconnected name skips it like the default
    // (opened-ports) branch does, instead of throwing
    val t = e.table("in", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    assert(e.sql("SELECT COUNT(*) c FROM raw", tables = Seq("opt", "in"))
      .head.getLong(0) == 1)
  }

  test("endExecution flushes all buffered ports") {
    val e = engine()
    val t = e.table("t2", "w")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    e.endExecution()
    assert(t.read.count() == 1)
  }

  test("replace creates a new version with only the given records") {
    val e = engine()
    val t = e.table("t3", "w")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")); t.flush()
    val v1 = t.getActiveVersion.get
    t.replace(Seq((9L, "z")).toDF("id", "v"))
    assert(t.getActiveVersion.get != v1)
    assert(t.read.as[(Long, String)].collect().toSet == Set((9L, "z")))
    // old version data still on disk until GC (node.py:403-404)
    assert(e.catalog.versionDir("t3", v1).toFile.exists)
  }

  test("truncate keeps schema, deletes rows") {
    val e = engine()
    val t = e.table("t4", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    t.truncate()
    assert(t.read.count() == 0)
    assert(t.schema.get.fieldNames.toSeq == Seq("id", "v"))
  }

  test("reset points at a fresh null version") {
    val e = engine()
    val t = e.table("t5", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    t.reset()
    assert(t.hasActiveVersion)
    assert(!t.exists)
    assert(t.read.count() == 0)
  }

  test("upsert inserts new keys and updates existing ones (last-writer-wins)") {
    val e = engine()
    val t = e.table("t6", "w").init(uniqueOn = Seq("id"))
    t.upsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.upsert(Seq((2L, "B2"), (3L, "c")).toDF("id", "v"))
    val got = t.read.as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
  }

  test("upsert is idempotent") {
    val e = engine()
    val t = e.table("t7", "w").init(uniqueOn = Seq("id"))
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    t.upsert(df); t.upsert(df)
    assert(t.read.count() == 2)
  }

  test("upsert without unique_on fails") {
    val e = engine()
    val t = e.table("t8", "w")
    assertThrows[IllegalArgumentException] {
      t.upsert(Seq((1L, "a")).toDF("id", "v"))
    }
  }

  test("schema conformance: later appends cast to first-write types and may add columns") {
    val e = engine()
    val t = e.table("t9", "w")
    t.append(Seq((1L, 1.5)).toDF("id", "x")); t.flush()
    t.append(Seq((2, 2, "extra")).toDF("id", "x", "note")); t.flush()  // int -> long, int -> double
    val s = t.read.schema
    assert(s("id").dataType.typeName == "long")
    assert(s("x").dataType.typeName == "double")
    assert(s.fieldNames.contains("note"))
    assert(t.read.count() == 2)
  }

  test("schema_hints cast on write (node.py:283)") {
    val e = engine()
    val t = e.table("t10", "w").init(schemaHints = Map("id" -> "string"))
    t.append(Seq((1, "a")).toDF("id", "v")); t.flush()
    assert(t.read.schema("id").dataType.typeName == "string")
  }

  test("replace conforms like append: schema_hints + safe-widen casts apply (node.py:336-345)") {
    val e = engine()
    val t = e.table("t10b", "w").init(schemaHints = Map("id" -> "string"))
    t.append(Seq((1, "a")).toDF("id", "v")); t.flush()
    t.replace(Seq((7, "z")).toDF("id", "v"))   // replace = reset()+append()
    assert(t.read.schema("id").dataType.typeName == "string")
    assert(t.read.select("id").as[String].collect().toSeq == Seq("7"))
  }

  test("conform in one projection == the withColumn-per-column form: same plan, schema, column order and rows") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types._
    val df = Seq((1, 2L, "3", 4.5, "x", "2024-01-02"), (7, 8L, "9", 1.25, null, null))
      .toDF("a", "b", "c", "d", "e", "g")
    val hints = Map("a" -> "bigint", "c" -> "int", "g" -> "date", "zz" -> "string")
    val existing = Map[String, DataType]("a" -> DecimalType(20, 2), "b" -> IntegerType,
      "c" -> LongType, "d" -> FloatType, "e" -> StringType, "yy" -> LongType)
    // the previous form: one withColumn per hinted, then per existing column
    def folded(d0: DataFrame): DataFrame = {
      val hinted = hints.foldLeft(d0) { case (d, (c, ty)) =>
        if (d.columns.contains(c)) d.withColumn(c, col(c).cast(ty)) else d
      }
      existing.foldLeft(hinted) { case (d, (c, ty)) =>
        if (d.columns.contains(c)) d.withColumn(c, col(c).cast(ty)) else d
      }
    }
    val one = graft.api.Table.conformed(df, hints, existing)
    val old = folded(df)
    assert(one.columns.toSeq == df.columns.toSeq)
    assert(one.schema == old.schema)
    assert(one.queryExecution.optimizedPlan.sameResult(old.queryExecution.optimizedPlan))
    assert(one.collect().toSeq == old.collect().toSeq)
    assert(graft.api.Table.conformed(df, Map("zz" -> "int"), Map.empty) eq df)
  }

  test("add_created and add_monotonic_id decorate writes; ids are strictly increasing base32 across batches") {
    val e = engine()
    val t = e.table("t11", "w").init(addCreated = "created_at", addMonotonicId = "monotonic_id")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")); t.flush()
    t.append(Seq((3L, "c")).toDF("id", "v")); t.flush()
    val rows = t.read.orderBy("id").collect()
    assert(rows.forall(r => r.getAs[java.sql.Timestamp]("created_at") != null))
    val ids = rows.map(_.getAs[String]("monotonic_id"))
    assert(ids.length == 3 && ids.distinct.length == 3)
    assert(ids.sorted.toSeq == ids.toSeq)  // lexicographic == insertion order
    assert(ids.forall(_.length == 13))
  }

  test("executeSql emits events only for DDL/DML, never for pure queries") {
    val e = engine()
    val t = e.table("t12b", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()    // create event
    val before = t.manifest.events.size
    assert(t.executeSql(s"SELECT COUNT(*) FROM ${t.sqlName}").count() == 1)
    assert(t.manifest.events.size == before)               // no phantom update
  }

  test("events log create/update/reset for downstream triggering (node.py:387-397)") {
    val e = engine()
    val t = e.table("t12", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()   // create
    t.append(Seq((2L, "b")).toDF("id", "v")); t.flush()   // update
    t.reset()                                             // reset
    val kinds = t.manifest.events.map(_.kind)
    assert(kinds == List("create", "update", "reset"))
  }

  test("read_sql runs arbitrary SQL against the table's sqlName (node.py:168-189)") {
    val e = engine()
    val t = e.table("sales", "w")
    t.append(Seq(("x", 10.0), ("x", 5.0), ("y", 1.0)).toDF("k", "amt")); t.flush()
    val out = t.readSql("SELECT k, SUM(amt) AS s FROM sales GROUP BY k ORDER BY k")
      .as[(String, Double)].collect().toSeq
    assert(out == Seq(("x", 15.0), ("y", 1.0)))
  }

  test("gc removes non-active expired versions") {
    val e = engine()
    val t = e.table("t13", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    val v1 = t.getActiveVersion.get
    t.replace(Seq((2L, "b")).toDF("id", "v"))
    val removed = e.catalog.gc("t13", keepMillis = -1000)  // everything non-active expires
    assert(removed == 1)
    assert(!e.catalog.versionDir("t13", v1).toFile.exists)
    assert(t.read.count() == 1)
  }

  test("retention policy sweeps superseded versions on version swap (node.py:403-404)") {
    val e = engine()
    // retention 0: superseded versions are removed as soon as a swap happens
    val t = e.table("t14", "w").init(retentionMillis = 0L)
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    val v1 = t.getActiveVersion.get
    Thread.sleep(5) // v1's createdAt must be strictly older than the sweep cutoff
    t.replace(Seq((2L, "b")).toDF("id", "v"))
    assert(!e.catalog.versionDir("t14", v1).toFile.exists, "superseded version swept")
    assert(t.read.as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    // a table without a policy keeps everything (manual gc only)
    val u = e.table("t15", "w")
    u.append(Seq((1L, "a")).toDF("id", "v")); u.flush()
    val uv1 = u.getActiveVersion.get
    u.replace(Seq((2L, "b")).toDF("id", "v"))
    assert(e.catalog.versionDir("t15", uv1).toFile.exists, "no policy => no sweep")
  }

  test("compact consolidates files, keeps rows, and does not trigger downstream") {
    val e = engine()
    val t = e.table("t17", "w")
    // many tiny appends => many parquet files in the active version dir
    (1 to 5).foreach { i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")); t.flush() }
    def parquetFiles(vid: String): Int =
      e.catalog.versionDir("t17", vid).toFile.listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(parquetFiles(t.getActiveVersion.get) >= 5)
    val counterBefore = t.manifest.eventCounter
    val before = t.read.as[(Long, String)].collect().toSet
    t.compact()
    assert(t.read.as[(Long, String)].collect().toSet == before)
    assert(parquetFiles(t.getActiveVersion.get) == 1)
    // observability event recorded, trigger counter untouched
    assert(t.manifest.events.last.kind == "compact")
    assert(t.manifest.eventCounter == counterBefore)
  }

  test("compact preserves a bucketed layout and its recorded count") {
    val e = engine()
    val t = e.table("t18", "w")
    t.init(uniqueOn = Seq("id"), bucketBy = 4)
    (1 to 4).foreach { i =>
      t.append(Seq((i.toLong * 10, s"v$i")).toDF("id", "v")); t.flush()
    }
    val before = t.read.select("id", "v").as[(Long, String)].collect().toSet
    t.compact()
    val dir = e.catalog.versionDir("t18", t.getActiveVersion.get).toFile
    assert(t.manifest.versions.find(_.id == t.getActiveVersion.get).flatMap(_.buckets)
      .contains(4), "compacted version records its bucket layout")
    assert(dir.listFiles().count(_.getName.startsWith("__bucket=")) > 0)
    assert(t.read.select("id", "v").as[(Long, String)].collect().toSet == before)
    // point lookup still works against the compacted layout
    assert(t.lookup(Seq(20L)).count() == 1)
  }

  test("compact of an empty bucketed table keeps schema and existence") {
    val e = engine()
    val t = e.table("t19", "w")
    t.init(uniqueOn = Seq("id"), bucketBy = 4)
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    t.truncate()
    assert(t.exists && t.read.count() == 0)
    t.compact()
    // the truncate hazard must not come back through compact: zero rows
    // through the partitionBy writer would write no files at all
    assert(t.exists, "compacted empty table still exists")
    assert(t.schema.map(_.fieldNames.toSet).contains(Set("id", "v")))
    assert(t.read.count() == 0)
  }

  test("event log trims to MaxEvents while eventCounter keeps the all-time total") {
    val c = new graft.catalog.TableCatalog(java.nio.file.Paths.get(freshRoot()))
    (1 to graft.catalog.TableCatalog.MaxEvents + 5)
      .foreach(_ => c.recordEvent("t16", "update"))
    val m = c.load("t16").get
    assert(m.events.size == graft.catalog.TableCatalog.MaxEvents)
    assert(m.eventCounter == graft.catalog.TableCatalog.MaxEvents + 5)
  }

  test("readVersion time-travels to superseded versions; GC'd/unknown fail loudly") {
    val e = engine()
    val t = e.table("t19", "w")
    t.init(uniqueOn = Seq("id"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")); t.flush()
    val v1 = t.getActiveVersion.get
    t.upsert(Seq((2L, "B"), (3L, "c")).toDF("id", "v"))
    val v2 = t.getActiveVersion.get
    assert(v1 != v2)
    // the superseded version still reads exactly as written
    assert(t.readVersion(v1).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(t.readVersion(v2).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "c")))
    intercept[IllegalArgumentException](t.readVersion("v999999"))
    // files deleted behind the catalog's back: the read fails loudly, never
    // as an empty frame
    val dir = e.catalog.versionDir("t19", v1).toFile
    dir.listFiles().foreach(_.delete()); dir.delete()
    intercept[org.apache.spark.SparkException](t.readVersion(v1).collect())
    // retention GC (its leases expired) drops the entry with the dir: the
    // time-travel read fails loudly up front
    java.nio.file.Files.list(e.catalog.tableDir("t19").resolve("leases")).forEach { p =>
      java.nio.file.Files.write(p, "0".getBytes("UTF-8"))
    }
    assert(e.catalog.gc("t19", 0L) == 1)
    intercept[IllegalArgumentException](t.readVersion(v1))
  }

  test("manifest load recovers from a surviving tmp after a crashed save") {
    // save()'s non-atomic fallback is copy-then-delete, so a crash mid-copy
    // can leave {missing-or-truncated final, COMPLETE tmp}. A fresh catalog
    // (no warm cache) must recover the manifest — not mint an empty one.
    val root = freshRoot()
    val c = new graft.catalog.TableCatalog(java.nio.file.Paths.get(root))
    c.recordEvent("t17", "create")
    val saved = c.load("t17").get
    val dir = c.tableDir("t17")
    val fin = dir.resolve("manifest.json")
    // simulate the crash window: final gone, tmp holds the full manifest
    java.nio.file.Files.move(fin, dir.resolve("manifest.json.tmp"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val fresh = new graft.catalog.TableCatalog(java.nio.file.Paths.get(root))
    assert(fresh.load("t17").map(_.eventCounter).contains(saved.eventCounter))
    // truncated final + complete tmp must also recover
    java.nio.file.Files.copy(dir.resolve("manifest.json.tmp"), fin)
    val bytes = java.nio.file.Files.readAllBytes(fin)
    java.nio.file.Files.write(fin, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    val fresh2 = new graft.catalog.TableCatalog(java.nio.file.Paths.get(root))
    assert(fresh2.load("t17").map(_.eventCounter).contains(saved.eventCounter))
  }

  test("recordCount is O(1) from the manifest - no Spark job on a committed version") {
    val e = engine()
    val t = e.table("rc1", "w")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")); t.flush()
    // the write stamped the footer count into the manifest
    val vid = t.getActiveVersion.get
    assert(t.manifest.versions.find(_.id == vid).flatMap(_.rowCount) == Some(3L))
    // positive control: the job-group mechanism does see real jobs
    spark.sparkContext.setJobGroup("rc-control", "control")
    t.read.count()
    spark.sparkContext.setJobGroup("rc-probe", "probe")
    assert(t.recordCount == Some(3L))
    spark.sparkContext.clearJobGroup()
    // listener-bus delivery is async - give the status store a beat
    Thread.sleep(500)
    val tracker = spark.sparkContext.statusTracker
    assert(tracker.getJobIdsForGroup("rc-control").nonEmpty,
      "control count() must register a job")
    assert(tracker.getJobIdsForGroup("rc-probe").isEmpty,
      "recordCount on a committed version must not launch a Spark job")
    // upsert and truncate re-stamp the count
    t.init(uniqueOn = Seq("id"))
    t.upsert(Seq((3L, "c2"), (4L, "d")).toDF("id", "v"))
    assert(t.recordCount == Some(4L))
    t.truncate()
    assert(t.recordCount == Some(0L))
  }

  test("reads of a stamped version are metadata-only - read, schema, readSql and asStream start no Spark job") {
    val e = engine()
    val plain = e.table("zj1", "w").init(addMonotonicId = "mid")
    plain.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")); plain.flush()
    plain.append(Seq((3L, "c", 1.5)).toDF("id", "v", "x")); plain.flush()
    val bucketed = e.table("zj2", "w").init(uniqueOn = Seq("id"), bucketBy = 4)
    bucketed.append((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")); bucketed.flush()
    bucketed.upsert(Seq((3L, "NEW")).toDF("id", "v"))
    // 40 files in one version: above the 32 paths at which a read of
    // explicit paths starts a listing job
    val wide = e.table("zj3", "w")
    wide.append(spark.range(0, 400, 1, 40).toDF("id").withColumn("v", $"id".cast("string")))
    wide.flush()
    assert(e.catalog.activeInfo("zj3").get.files.size == 40)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    def jobsIn(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      // fence: the listener bus delivers in order, so once a job started
      // after `body` is seen, every job `body` started has been seen too
      spark.sparkContext.setJobGroup(s"$group-fence", "fence")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains(s"$group-fence") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(groups.contains(s"$group-fence"), "listener never saw the fence job")
      groups.toArray.count(_ == group)
    }
    try {
      Seq(plain -> "id", bucketed -> "id", wide -> "id").foreach { case (t, ob) =>
        val probe = s"zj-probe-${t.name}"
        assert(jobsIn(probe) {
          t.read
          assert(t.schema.exists(_.nonEmpty))
          t.readSql(s"SELECT v, COUNT(*) AS n FROM ${t.sqlName} GROUP BY v")
          t.asStream(orderBy = ob).plan()
        } == 0, s"${t.name}: reading a stamped version must start no Spark job")
      }
      // positive control: a schema-inferring read of the same version dir
      // merges its footers in a Spark job, which the probe above would
      // have seen
      assert(jobsIn("zj-control")(spark.read.option("mergeSchema", "true")
        .parquet(e.catalog.versionDir("zj1", plain.getActiveVersion.get).toString)) > 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("read lease shields a time-travel scan from a concurrent retention sweep") {
    val e = engine()
    val t = e.table("lease1", "w")
    t.append(Seq((1L, "a")).toDF("id", "v")); t.flush()
    val v1 = t.getActiveVersion.get
    t.replace(Seq((2L, "b")).toDF("id", "v")) // supersedes v1
    val frame = t.readVersion(v1) // acquires a TTL'd lease
    // a concurrent writer's zero-retention sweep must SKIP the leased
    // version: the returned frame is lazy, its files are still needed
    assert(e.catalog.gc("lease1", 0L) == 0)
    assert(frame.select("id").as[Long].collect().toSeq == Seq(1L))
    // v1 stays in the manifest so a later sweep retries it
    assert(t.manifest.versions.exists(_.id == v1))
    // force-expire every lease: the next sweep reclaims the version
    val leases = e.catalog.tableDir("lease1").resolve("leases")
    java.nio.file.Files.list(leases).forEach { p =>
      java.nio.file.Files.write(p, "0".getBytes("UTF-8"))
    }
    assert(e.catalog.gc("lease1", 0L) == 1)
    assert(!t.manifest.versions.exists(_.id == v1))
    intercept[IllegalArgumentException] { t.readVersion(v1) }
  }

  test("init(schema = name) resolves through the engine schema registry (node.py:271-283)") {
    import org.apache.spark.sql.types._
    val e = engine()
    e.registerSchema("order_line", StructType(Seq(
      StructField("id", StringType), StructField("qty", LongType))))
    val t = e.table("ns1", "w").init(schema = "order_line")
    t.append(Seq((1L, "7"), (2L, "9")).toDF("id", "qty")); t.flush()
    // named-schema fields applied as type hints on write
    assert(t.schema.get("id").dataType == StringType)
    assert(t.schema.get("qty").dataType == LongType)
    // explicit hints override the named schema; unknown names fail loudly
    val u = e.table("ns2", "w").init(schema = "order_line",
      schemaHints = Map("qty" -> "double"))
    u.append(Seq((1L, "7")).toDF("id", "qty")); u.flush()
    assert(u.schema.get("qty").dataType == DoubleType)
    intercept[IllegalArgumentException](e.table("ns3", "w").init(schema = "nope"))
  }

  test("monotonic-id write path stays in the query plan (no checkpoint/RDD rebuild)") {
    val e = engine()
    val t = e.table("cg1", "w").init(addMonotonicId = "mid")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    t.append(batch); t.flush()
    // ids dense + ordered, same contract the zipWithIndex path had
    assert(t.read.orderBy("id").collect().map(_.getAs[String]("mid")).toSeq ==
      Seq(graft.api.Table.base32(1), graft.api.Table.base32(2)))
    // and nothing was pinned in executor storage by the write
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinnedBefore,
      "monotonic-id path must not localCheckpoint/persist the batch")
  }

  test("multi-writer catalog: two engines on one dir compose without lost updates") {
    // Two INDEPENDENT catalog instances (what two GraphRunners sharing a
    // store look like) mutating one table concurrently: the per-table
    // file lock + fresh-read mutate must serialize them - no clobbered
    // pointer swaps, no overlapping id reservations, no dropped events.
    val root = freshRoot()
    val c1 = new graft.catalog.TableCatalog(java.nio.file.Paths.get(root))
    val c2 = new graft.catalog.TableCatalog(java.nio.file.Paths.get(root))
    val perWriter = 30
    val starts = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val tasks = Seq(c1, c2).map { c =>
      pool.submit(new Runnable {
        def run(): Unit = (1 to perWriter).foreach { _ =>
          starts.add(c.reserveIds("shared", 5))
          c.recordEvent("shared", "update")
          c.createVersion("shared")
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // fresh instance, fresh read: all mutations from both writers landed
    val m = new graft.catalog.TableCatalog(java.nio.file.Paths.get(root))
      .load("shared").get
    assert(m.meta.highWaterMark == 2L * perWriter * 5,
      "overlapping/lost id reservations")
    assert(m.eventCounter == 2L * perWriter, "dropped events")
    assert(m.versionCounter == 2L * perWriter, "lost version mints")
    assert(m.versions.map(_.id).distinct.size == 2 * perWriter,
      "duplicate version ids")
    import scala.jdk.CollectionConverters._
    assert(starts.asScala.size == 2 * perWriter, "two writers got the same id range")
  }

  test("concurrent upserts from two engines on one catalog dir both land") {
    val root = freshRoot()
    val e1 = new GraftEngine(spark, root, nodeId = "w1")
    val e2 = new GraftEngine(spark, root, nodeId = "w2")
    val t1 = e1.table("cc", "w").init(uniqueOn = Seq("id"))
    val t2 = e2.table("cc", "w")
    t1.upsert(Seq((1L, "seed")).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val f1 = pool.submit(new Runnable {
      def run(): Unit = (2 to 6).foreach(i =>
        t1.upsert(Seq((i.toLong, s"a$i")).toDF("id", "v")))
    })
    val f2 = pool.submit(new Runnable {
      def run(): Unit = (7 to 11).foreach(i =>
        t2.upsert(Seq((i.toLong, s"b$i")).toDF("id", "v")))
    })
    f1.get(); f2.get(); pool.shutdown()
    // upsert holds the table lock across its WHOLE read-merge-write, so
    // interleaved single-key upserts must serialize: the final version
    // contains every key from both writers - nothing dropped at a swap
    val c = new graft.catalog.TableCatalog(java.nio.file.Paths.get(root))
    val m = c.refresh("cc").get
    assert(m.versions.map(_.id).distinct.size == m.versions.size)
    val rows = spark.read.parquet(
      c.versionDir("cc", m.activeVersion.get).toString)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == (1L to 11L), s"lost upserts: ${rows.mkString(",")}")
  }
}
