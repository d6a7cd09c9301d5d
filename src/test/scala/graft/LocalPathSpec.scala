package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.graft.LocalInternals

import graft.api.{GraftEngine, Table}

/** Driver-resident batches: the driver form of each row-level step pinned
  * bit-identical to its Spark form, the job counts of the local path, and
  * the per-(session, view) atomicity of SQL temp views.
  */
class LocalPathSpec extends SparkSpec {
  import spark.implicits._

  private def engine() = new GraftEngine(spark, freshRoot())

  private def local(df: DataFrame) = LocalInternals.localRows(df).getOrElse(
    fail(s"not a local plan:\n${df.queryExecution.optimizedPlan}"))

  /** The same rows through parquet: a file scan, so every later step
    * takes the Spark path.
    */
  private def viaParquet(df: DataFrame): DataFrame = {
    val p = freshRoot() + "/rows"
    df.coalesce(1).write.parquet(p)
    spark.read.parquet(p)
  }

  private val groups = new ConcurrentLinkedQueue[String]()
  private lazy val listener = {
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** Spark jobs `body` starts, fenced like TableSpec's metadata-only pin. */
  private def jobsIn(group: String)(body: => Unit): Int = {
    listener
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.setJobGroup(s"$group-fence", "fence")
    try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!groups.contains(s"$group-fence") && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(groups.contains(s"$group-fence"), "listener never saw the fence job")
    groups.toArray.count(_ == group)
  }

  private def rows(t: Table, cols: String*): Set[Row] =
    t.read.select(cols.map(col): _*).collect().toSet

  test("driver bucket helper == pmod(hash(keys), n) over every key type, nulls and multi-column keys") {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val base = s.createDataFrame(spark.sparkContext.parallelize((0 until 60).map { i =>
      def orNull[A](v: A): Any = if (i % 7 == 3) null else v
      Row(i, orNull(i * 1000003L - 7L), orNull(i * 31 - 900), orNull(s"k-$i-é"),
        orNull(s"2024-03-${10 + i % 3} 0${i % 4}:30:00"), orNull(BigDecimal(i) / 7))
    }, 1), StructType(Seq(StructField("id", IntegerType),
      StructField("l", LongType), StructField("i", IntegerType), StructField("s", StringType),
      StructField("t", StringType), StructField("dec", DecimalType(12, 3)))))
      // string → timestamp/date in the session time zone (DST gap included)
      .withColumn("ts", to_timestamp(col("t"))).withColumn("d", to_date(col("t")))
      .drop("t")
    val scan = viaParquet(base)
    val schema = scan.schema
    val internal = scan.queryExecution.toRdd.map(_.copy()).collect()
    val keySets = Seq(Seq("l"), Seq("i"), Seq("s"), Seq("d"), Seq("ts"), Seq("dec"),
      Seq("l", "s"), Seq("s", "d", "ts", "dec"))
    for (keys <- keySets; n <- Seq(8, 7)) {
      val bySpark = scan.select(col("id"), pmod(hash(keys.map(col): _*), lit(n)))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val f = Table.bucketFn(keys.map(k => schema.fieldIndex(k) -> schema(k).dataType), n)
      val driver = internal.map(r => r.getInt(schema.fieldIndex("id")) -> f(r)).toMap
      assert(driver == bySpark, s"keys $keys, n $n")
    }
  }

  test("driver monotonic ids == DenseRowId ids, single and unioned local appends") {
    val a = (1 to 37).map(i => (i.toLong, s"a$i")).toDF("id", "v")
    val b = (1 to 5).map(i => (100L + i, s"b$i")).toDF("id", "v")
    for (batch <- Seq(a, a.unionByName(b), b.unionByName(a).unionByName(b))) {
      val (s, rs) = local(batch)
      val driver = Table.localIds(spark, s, rs, "mid", _ => 1000L)
      val dense = Table.denseIds(batch, "mid", _ => 1000L)
      assert(driver.schema == dense.schema)
      val got = driver.collect().toSeq
      assert(got == dense.collect().toSeq)
      assert(got.map(_.getString(2)) == (1001L to 1000L + rs.size).map(Table.base32))
    }
  }

  test("driver last-per-key == window form, duplicates inside one batch; float keys take the Spark path") {
    val batch = Seq[(java.lang.Long, String, String)](
      (1L, "x", "first"), (2L, "x", "a"), (1L, "x", "second"), (null, "y", "n1"),
      (3L, null, "m1"), (1L, "y", "other"), (null, "y", "n2"), (3L, null, "m2"),
      (1L, "x", "third"), (4L, "z", "only")).toDF("k1", "k2", "v")
    val wide = batch.unionByName(batch.withColumn("v", concat(col("v"), lit("'"))))
    for (df <- Seq(batch, wide); keys <- Seq(Seq("k1"), Seq("k1", "k2"))) {
      val (s, rs) = local(df)
      val k = Table.localKeys(s, keys).getOrElse(fail(s"$keys not driver-groupable"))
      val driver = LocalInternals.localFrame(spark, s, Table.lastPerKeyLocal(rs, k))
      assert(driver.collect().toSet == Table.lastPerKeySpark(df, keys).collect().toSet,
        s"keys $keys")
    }
    assert(Seq[DataType](FloatType, DoubleType, BinaryType, ArrayType(LongType),
      StructType(Seq(StructField("a", LongType)))).forall(dt => !Table.driverGroupable(dt)))
    val dbl = Seq((0.0, "a"), (-0.0, "b"), (Double.NaN, "c"), (Double.NaN, "d")).toDF("k", "v")
    assert(Table.localKeys(local(dbl)._1, Seq("k")).isEmpty)
    // the Spark path groups ±0.0 and NaNs: a double-keyed upsert keeps 2 rows
    val t = engine().table("dbl", "w").init(uniqueOn = Seq("k"))
    t.upsert(dbl)
    assert(t.read.count() == 2)
  }

  test("driver key filter == left_anti join over every key type, nulls and multi-column keys; above the bound the join stays") {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("l", LongType),
      StructField("s", StringType), StructField("t", StringType),
      StructField("dec", DecimalType(12, 3)), StructField("v", StringType)))
    // local rows: key values repeat across ranges, every 7th row has null keys
    def frame(ids: Range, tag: String): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(ids.map { i =>
        def orNull[A](v: A): Any = if (i % 7 == 3) null else v
        Row(i, orNull(i * 1000003L - 7L), orNull(s"k-${i % 40}-é"),
          orNull(s"2024-03-${10 + i % 3} 0${i % 4}:30:00"), orNull(BigDecimal(i % 25) / 7), s"$tag$i")
      }: _*), schema)
        // string → timestamp/date in the session time zone (DST gap included)
        .withColumn("ts", to_timestamp(col("t"))).withColumn("d", to_date(col("t"))).drop("t")
    val oldPath = freshRoot() + "/old"
    frame(0 until 80, "old").coalesce(1).write.parquet(oldPath)
    val old = s.read.parquet(oldPath)
    val incoming = frame(50 until 120, "new")
    assert(LocalInternals.localRows(incoming).isDefined)
    def joins(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    // a using-join puts the key columns first; upsert unions by name
    def sorted(df: DataFrame) =
      df.select(old.columns.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq
    val keySets = Seq(Seq("l"), Seq("s"), Seq("d"), Seq("ts"), Seq("dec"),
      Seq("l", "s"), Seq("s", "d", "ts", "dec"))
    for (keys <- keySets) {
      val viaJoin = old.join(incoming, keys, "left_anti")
      val viaFilter = Table.withoutKeysOf(old, incoming, keys)
      assert(joins(viaFilter) == 0, s"keys $keys kept the join")
      val want = sorted(viaJoin)
      assert(sorted(viaFilter) == want, s"keys $keys")
      assert(want.nonEmpty && want.size < 80, s"keys $keys: a trivial case")
    }
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val above = Table.withoutKeysOf(old, incoming, Seq("l", "s"))
    assert(joins(above) == 1)
    assert(sorted(above) == sorted(old.join(incoming, Seq("l", "s"), "left_anti")))
  }

  test("job counts of the local path: flush 1, bucketed upsert 1, consume 1, nothing new 0; parquet input agrees") {
    val batches = Seq(
      (1 to 200).map(i => (i.toLong, i % 13L, s"k$i", i * 3L)),
      (150 to 350).map(i => (i.toLong, i % 11L, s"u$i", i * 5L)) ++ Seq((151L, 1L, "dup", 7L)))
      .map(_.toDF("event_id", "user_id", "kind", "amount"))
    def feed(e: GraftEngine, tag: String, input: DataFrame => DataFrame): Seq[Int] = {
      val in = e.table("events_in", "w").init(addMonotonicId = "seq")
      val out = e.table("events", "w").init(uniqueOn = Seq("event_id"), bucketBy = 8)
      val st = in.asStream()
      batches.zipWithIndex.flatMap { case (b, i) =>
        val batch = input(b)
        val flush = jobsIn(s"$tag-flush-$i") { in.append(batch); in.flush() }
        var got: Seq[Row] = Nil
        val consume = jobsIn(s"$tag-consume-$i") { got = st.consumeRecords().toVector }
        val empty = jobsIn(s"$tag-empty-$i")(assert(st.consumeRecords().isEmpty))
        val consumed = input(spark.createDataFrame(
          java.util.Arrays.asList(got.map(r => Row(r.toSeq.take(4): _*)): _*), b.schema))
        val upsert = jobsIn(s"$tag-upsert-$i")(out.upsert(consumed))
        Seq(flush, consume, empty, upsert)
      }
    }
    val fast = engine()
    val slow = engine()
    val localJobs = feed(fast, "local", identity)
    val sparkJobs = feed(slow, "spark", viaParquet)
    // batch 0 creates the events table (full write), batch 1 upserts into
    // its 8 buckets: old rows drop by the driver-held key set, so the
    // write is the only job
    assert(localJobs == Seq(1, 1, 0, 1, 1, 1, 0, 1), s"local path jobs $localJobs")
    assert(sparkJobs.zip(localJobs).forall { case (s, l) => s >= l } &&
      sparkJobs(0) > 1 && sparkJobs(7) > 2, s"Spark path jobs $sparkJobs")
    for (t <- Seq("events_in", "events"))
      assert(rows(fast.table(t), "event_id", "user_id", "kind", "amount") ==
        rows(slow.table(t), "event_id", "user_id", "kind", "amount"), t)
    assert(rows(fast.table("events_in"), "event_id", "seq") ==
      rows(slow.table("events_in"), "event_id", "seq"))
    assert(fast.table("events").read.count() == 350L)
    assert(fast.table("events").lookup(Seq(151L)).select("kind").as[String].collect()
      .toSeq == Seq("dup"))
  }

  test("a cursor reloaded from persisted state still proves nothing new with 0 jobs, Long and Int order columns") {
    val root = freshRoot()
    val first = new GraftEngine(spark, root)
    val t = first.table("ints", "w")
    t.append((1 to 20).map(i => (i.toLong, i, s"v$i")).toDF("l", "i", "v")); t.flush()
    for (ob <- Seq("l", "i")) {
      val st = first.table("ints").asStream(orderBy = ob)
      assert(st.consumeRecords().size == 20)
      st.checkpoint()
      val again = new GraftEngine(spark, root).table("ints").asStream(orderBy = ob)
      assert(jobsIn(s"reload-$ob")(assert(again.consumeRecords().isEmpty)) == 0, ob)
    }
  }

  test("a consume past the cursor scans only the files whose stamped max is above it; nothing new starts 0 jobs") {
    val e = engine()
    val t = e.table("k_files", "w").init(addMonotonicId = "seq")
    val st = t.asStream()
    (1 to 4).foreach { k => t.append(Seq((k.toLong, s"v$k")).toDF("id", "v")); t.flush() }
    assert(st.consumeRecords().map(_.getLong(0)).toSeq == (1L to 4L))
    t.append(Seq((5L, "v5"), (6L, "v6")).toDF("id", "v")); t.flush()
    val files = e.catalog.activeInfo("k_files").get.files
    assert(files.size == 5, "one file per flush")
    // the plan a consume runs, and the batch a streaming source builds
    // from the same cursor, read the newest file alone
    def newest(df: DataFrame) = df.inputFiles.toSeq.map(_.split("/").last)
    val last = Seq(files.last.path.split("/").last)
    assert(newest(st.plan()) == last)
    val src = new graft.streaming.GraftTableSourceProvider().createSource(spark.sqlContext,
      java.nio.file.Files.createTempDirectory("after-meta-").toUri.toString.stripSuffix("/"),
      None, "graft-table", Map("root" -> e.catalog.root.toString, "table" -> "k_files"))
      .asInstanceOf[graft.streaming.GraftTableSource]
    try {
      val start = graft.streaming.CursorOffset(Table.base32(4L))
      assert(newest(src.batchPlan(Some(start), src.getOffset.get)) == last)
    } finally src.stop()
    assert(jobsIn("after-consume")(
      assert(st.consumeRecords().map(_.getLong(0)).toSeq == Seq(5L, 6L))) == 1)
    assert(jobsIn("after-empty")(assert(st.consumeRecords().isEmpty)) == 0)
    assert(st.plan().inputFiles.isEmpty, "nothing new: no file qualifies")
  }

  test("consume above the driver-residency bound takes the sorted toLocalIterator plan, same rows in the same order") {
    def consumeAll(e: GraftEngine): Seq[Row] = {
      val t = e.table("s", "w").init(addMonotonicId = "seq")
      (0 until 3).foreach { k =>
        t.append((1 to 50).map(i => (k * 100L + i, s"v$k-$i")).toDF("id", "v")); t.flush()
      }
      val st = t.asStream()
      val first = st.consumeRecords().take(60).toVector
      first ++ st.consumeRecords().toVector
    }
    val small = consumeAll(engine())
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val big = consumeAll(new GraftEngine(s, freshRoot()))
    assert(small.map(_.getString(2)) == (1 to 150).map(i => Table.base32(i.toLong)))
    assert(small.map(r => (r.getLong(0), r.getString(1))) == big.map(r => (r.getLong(0), r.getString(1))))
  }

  test("readSql and GraftEngine.sql on one session never drop each other's view: 0 failures") {
    val root = freshRoot()
    val a = new GraftEngine(spark, root, "a")
    val b = new GraftEngine(spark, root, "b")
    a.table("shared", "w").append((1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    a.table("shared", "w").flush()
    b.table("shared")
    val pool = Executors.newFixedThreadPool(8)
    val failures = new AtomicInteger
    try {
      (0 until 400).foreach { i =>
        pool.submit(new Runnable {
          def run(): Unit =
            try {
              val e = if (i % 2 == 0) a else b
              if (i % 4 < 2) e.table("shared").readSql("SELECT count(*) FROM shared")
              else e.sql("SELECT count(*) FROM shared", Seq("shared"))
            } catch { case _: Throwable => failures.incrementAndGet() }
        })
      }
    } finally {
      pool.shutdown()
      assert(pool.awaitTermination(5, TimeUnit.MINUTES))
    }
    assert(failures.get == 0)
    assert(!spark.catalog.tableExists("shared"), "the view outlived its analysis")
  }
}
