package graft.api

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Murmur3Hash}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graft.{LocalInternals, SchemaInternals}

import graft.catalog.{CatalogFileSystem, DataFile, TableCatalog, VersionInfo}

/** Named, versioned table port (reference node.py:117-414).
  *
  * Storage: a version is the list of data files in its manifest entry
  * ([[VersionInfo.files]]), each with its footer stamp; the manifest's
  * active pointer picks the readable version. Each version writes its
  * files into its own dir under the catalog root and records its layout
  * (flat files, or the `init(bucketBy)` hash buckets it was minted with:
  * [[VersionInfo.buckets]]), which every write into it and every
  * bucket-pruned read follows. A read is a parquet scan of exactly the
  * files the active entry lists, with the entry's schema stamp (full
  * Catalyst pushdown/pruning, no listing, no planning job); writes are
  * buffered and flushed as parquet appends (node.py:306-307, :407-414);
  * upsert/replace/truncate mint a fresh version + pointer swap, so readers
  * of the old version are never torn. Every write ends in one manifest
  * mutation that registers its files; its rows are invisible until then.
  *
  * 100 TB note: every data operation is a Spark job over listed files —
  * nothing row-sized crosses the driver except explicit `readRecords`,
  * a stream consume under the driver-residency bound, and rows that are
  * already on the driver. Upsert rewrites the table (O(table) per call,
  * SURVEY.md §7.4); on a bucketed layout it rewrites only the buckets its
  * keys hash to and lists the parent's files for the rest (see
  * [[upsert]]).
  *
  * Local path: a write whose input's optimized plan is a `LocalRelation`
  * or a union of them (webhook batches, rows built by node code, the rows
  * `Stream.consumeRecords` returns) does its row-level bookkeeping on the
  * driver — monotonic ids, last-per-key dedup, the affected-bucket set —
  * each pinned bit-identical to its Spark form (LocalPathSpec). Any other
  * input keeps the Spark path.
  *
  * Filesystem: every Spark write here runs on [[CatalogFileSystem]]
  * (see `writeInto`), which sets each new file's, `.crc` file's and
  * directory's mode in-process; the stock local filesystem forks a
  * `chmod` per path when `libhadoop` is absent. Modes `java.nio` cannot
  * set fall back to Hadoop's own `setPermission`.
  */
class Table(engine: GraftEngine, val name: String, val mode: String = "r",
    val required: Boolean = true, val connected: Boolean = true) {
  import engine.spark
  private[graft] val catalog: TableCatalog = engine.catalog
  private val buffer = ArrayBuffer.empty[DataFrame]

  /** Whether this port is bound to a store in the graph (node.py:232-238).
    * Operations on an unconnected table are no-ops returning dummies —
    * reads come back empty, writes are swallowed, introspection is None —
    * so an optional (`required = false`) port degrades gracefully.
    */
  def isConnected: Boolean = connected

  /** Default auto-column names when init is called without explicit ones
    * (the reference has the caller pick the names, node.py:286-294).
    */
  val defaultCreatedCol = "created_at"
  val defaultMonotonicCol = "monotonic_id"

  private def monotonicCol: Option[String] = manifest.meta.addMonotonicId

  // --- introspection (node.py:232-267) ---

  def manifest = catalog.loadOrCreate(name)

  /** Temp-view name this table registers under for SQL (node.py:240-246). */
  def sqlName: String = name

  def hasActiveVersion: Boolean = connected && manifest.activeVersion.isDefined

  def exists: Boolean = activeStamp.exists(_.files.nonEmpty)

  /** Schema of the active version — the commit-time stamp, read from the
    * manifest without building a DataFrame. None without files.
    */
  def schema: Option[StructType] = activeStamp.flatMap(_.readSchema)

  /** Row count of the active version — O(1) from the manifest stamp
    * (reference `TableVersion.record_count` is a stored property,
    * node.py:106-109; a full count() per introspection call would surprise
    * at 100 TB). None for a version nothing was ever committed to.
    */
  def recordCount: Option[Long] = activeStamp.flatMap(_.rowCount)

  /** Each file's footer stamp ([[DataFile]]: rows, per-column max, the
    * columns its footer disqualifies) and the files' merged Spark schema,
    * from parquet FOOTERS — metadata-only, O(#files) driver-side reads, no
    * Spark job. Read once per file, when its write commits: a version's
    * row count ([[recordCount]] is O(1), reference
    * TableVersion.record_count, node.py:106-109) and column maxes (the
    * streaming source's `getOffset` poll is a manifest lookup instead of a
    * table-sized `max()` scan per trigger) fold these stamps
    * ([[VersionInfo.rowCount]], [[VersionInfo.cursorMax]]), and every read
    * of the version takes the schema stamp instead of a footer-merge job.
    *
    * A column's max is usable only when its footer statistics are present
    * and trustworthy in EVERY row group of the file: plain INT32/INT64/
    * DOUBLE, INT64 timestamps (micro/milli/nano logical annotation;
    * INT96 has no usable stats), and short UTF-8 binaries (parquet-mr may
    * truncate or omit stats for large binaries, and a truncated max is a
    * BOUND, not a value — unsafe as a cursor). Any other row group of the
    * column disqualifies it ([[VersionInfo.foldMax]]), so the streaming
    * source falls back to a scan, never returns a wrong offset. A row
    * group whose column is all null holds no value and leaves it as it is.
    *
    * The schema folds each file's Spark footer schema in path order with
    * `StructType.merge` — the order and merge a `mergeSchema` read uses,
    * so the stamp equals what inference would return (an empty struct for
    * no files). None when a file has no Spark footer schema or two files
    * have incompatible types.
    */
  private[graft] def footerStatsCore(files: Seq[DataFile]): (Seq[DataFile], Option[StructType]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
    import org.apache.parquet.HadoopReadOptions
    val conf = spark.sessionState.newHadoopConf()
    // read options are built ONCE per stamp: building them copies the
    // whole Hadoop conf (10-20 ms per footer on a 4-core box, most of an
    // upsert's commit tail when built per file). Only a session with a
    // parquet crypto factory needs per-file (decryption) options
    val decrypting = conf.get("parquet.crypto.factory.class") != null
    lazy val readOptions = HadoopReadOptions.builder(conf).build()
    val stamped = files.map { f =>
      val path = new org.apache.hadoop.fs.Path(
        catalog.tableDir(name).resolve(f.path).toFile.getAbsolutePath)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf),
        if (decrypting) HadoopReadOptions.builder(conf, path).build() else readOptions)
      try {
        var maxes = Map.empty[String, Option[Any]]
        r.getFooter.getBlocks.forEach { block =>
          block.getColumns.forEach { c =>
            val stats = c.getStatistics
            val allNull = stats != null && stats.isNumNullsSet && !stats.hasNonNullValue &&
              stats.getNumNulls == c.getValueCount
            if (c.getPath.size() == 1 && !allNull) { // top-level scalars only
              val usable = stats != null && !stats.isEmpty &&
                stats.hasNonNullValue
              // ONLY (physical, logical) pairs whose stamped string
              // VersionInfo.decode reproduces are stamped: a DATE's raw
              // INT32 (days), a DECIMAL's unscaled INT or a timestamp
              // without time zone (a UTC instant here, a local date-time
              // in a scan) would decode to a wrong offset — those logical
              // types stay unstamped and the poll falls back to a scan.
              val v: Option[Any] =
                if (!usable) None
                else (c.getPrimitiveType.getPrimitiveTypeName,
                    c.getPrimitiveType.getLogicalTypeAnnotation) match {
                  case (INT64, ts: TimestampLogicalTypeAnnotation) if ts.isAdjustedToUTC =>
                    val raw = stats.genericGetMax.asInstanceOf[java.lang.Long].longValue
                    val micros = ts.getUnit match {
                      case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
                      case LogicalTypeAnnotation.TimeUnit.MICROS => raw
                      case LogicalTypeAnnotation.TimeUnit.NANOS  => Math.floorDiv(raw, 1000L)
                    }
                    Some(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
                      Math.floorDiv(micros, 1000000L),
                      Math.floorMod(micros, 1000000L) * 1000L)))
                  case (INT64, null) =>
                    Some(stats.genericGetMax.asInstanceOf[java.lang.Long].longValue)
                  case (INT64, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
                      if i.getBitWidth == 64 && i.isSigned =>
                    Some(stats.genericGetMax.asInstanceOf[java.lang.Long].longValue)
                  case (INT32, null) =>
                    Some(stats.genericGetMax.asInstanceOf[java.lang.Integer].intValue)
                  case (INT32, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
                      if i.getBitWidth == 32 && i.isSigned =>
                    Some(stats.genericGetMax.asInstanceOf[java.lang.Integer].intValue)
                  case (DOUBLE, null) =>
                    Some(stats.genericGetMax.asInstanceOf[java.lang.Double].doubleValue)
                  case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
                    val bin = stats.genericGetMax
                      .asInstanceOf[org.apache.parquet.io.api.Binary]
                    // short strings only: parquet-mr stats for long
                    // binaries may be truncated bounds, not actual values
                    if (bin.length <= 256) Some(bin.toStringUsingUTF8) else None
                  case _ => None
                }
              maxes = VersionInfo.foldMax(maxes, c.getPath.toDotString, v)
            }
          }
        }
        val footerSchema = Option(r.getFooter.getFileMetaData.getKeyValueMetaData
          .get(SchemaInternals.FooterKey)).flatMap(SchemaInternals.parse)
        (f.copy(rows = Some(r.getRecordCount),
          maxes = maxes.collect { case (k, Some(v)) => k -> VersionInfo.encode(v) },
          disqualified = maxes.collect { case (k, None) => k }.toList.sorted), footerSchema)
      } finally r.close()
    }
    val schema = stamped.sortBy(_._1.path).foldLeft(Option(new StructType())) {
      case (acc, (_, fileSchema)) =>
        for (a <- acc; s <- fileSchema; merged <- mergeSchemas(a, s)) yield merged
    }
    (stamped.map(_._1), schema)
  }

  /** `a` merged with `b` under the session's case sensitivity (as a
    * `mergeSchema` read merges), or None for incompatible types.
    */
  private def mergeSchemas(a: StructType, b: StructType): Option[StructType] =
    scala.util.Try(SchemaInternals.merge(a, b,
      spark.sessionState.conf.caseSensitiveAnalysis)).toOption

  /** Write `df` into version `vid` and commit it: the write's files (the
    * version dir's parquet files that were not there before it) are
    * footer-stamped ([[footerStatsCore]]) and registered after the
    * version's files and `carried` (the parent's files an upsert keeps
    * listing, stamps and all), in one manifest mutation. The version's
    * schema is its own stamp (else the upsert's `parentSchema`) merged
    * with the written files': [[inVersionOrder]] writes every file with
    * that schema as its prefix, so this equals a fold of every listed
    * file's footer. Nothing is visible before the registration; a
    * failure before it deletes the files the write added and rethrows.
    * Called under the table lock, which [[TableCatalog.gc]] takes too.
    */
  private def commit(df: DataFrame, vid: String, carried: Seq[DataFile] = Nil,
      parentSchema: Option[StructType] = None): Unit = {
    val before = catalog.filesOnDisk(name, vid).map(_.path).toSet
    def added = catalog.filesOnDisk(name, vid).filterNot(f => before(f.path)).sortBy(_.path)
    try {
      writeInto(df, vid)
      Table.postAppendHook()
      val v = versionOf(vid)
      val (written, writtenSchema) = footerStatsCore(added)
      val files = v.files ++ carried ++ written
      val schema = for {
        w <- writtenSchema
        s <- v.readSchema.orElse(parentSchema).fold(Option(w))(mergeSchemas(_, w))
      } yield s
      if (files.nonEmpty && !schema.exists(_.nonEmpty))
        throw new IllegalStateException(s"table $name: the footers of the files " +
          s"written to version $vid yield no schema; the write is not committed")
      catalog.registerFiles(name, vid, files, schema.filter(_ => files.nonEmpty))
    } catch {
      case NonFatal(e) =>
        catalog.deleteFiles(name, added.map(_.path))
        throw e
    }
  }

  /** `df` with the columns of `s` first, in its order (one `df` lacks as a
    * typed null), then its other columns: every file written into a
    * version then holds the version's schema as a prefix, so the files'
    * footer schemas fold to the same schema in any order and over any
    * subset an upsert keeps listing.
    */
  private def inVersionOrder(df: DataFrame, s: Option[StructType]): DataFrame = s.fold(df) { s =>
    val same = spark.sessionState.conf.resolver
    def quoted(c: String) = col("`" + c.replace("`", "``") + "`")
    df.select((s.fields.map(f => df.columns.find(same(_, f.name))
      .fold(lit(null).cast(f.dataType).as(f.name))(quoted)) ++
      df.columns.filterNot(c => s.fieldNames.exists(same(c, _))).map(quoted)).toSeq: _*)
  }

  /** Version `vid`'s entry in the manifest this instance holds: current
    * under the table lock, which drops the cached manifest on entry.
    */
  private def versionOf(vid: String): VersionInfo =
    manifest.versions.find(_.id == vid).getOrElse(
      throw new IllegalStateException(s"table $name: no version '$vid'"))

  /** The active version's manifest entry, read fresh from disk: another
    * engine may have committed since this instance cached the manifest.
    */
  private[graft] def activeStamp: Option[VersionInfo] =
    if (!connected) None else catalog.activeInfo(name)

  /** Whether a stamped version is small enough to read whole onto the
    * driver: its bytes on disk and its stamped rows × the schema's
    * per-row size estimate (Spark's own `defaultSize` statistic) both fit
    * under `spark.sql.autoBroadcastJoinThreshold` — the size below which
    * Spark itself collects a relation to the driver to broadcast it.
    */
  private[graft] def driverResident(v: VersionInfo): Boolean = {
    val bound = spark.sessionState.conf.autoBroadcastJoinThreshold
    (v.rowCount, v.readSchema) match {
      case (Some(rows), Some(s)) if bound > 0 && rows <= bound / math.max(1, s.defaultSize) =>
        v.files.iterator.map(_.bytes).sum <= bound
      case _ => false
    }
  }

  private def activeDf: Option[DataFrame] =
    activeStamp.flatMap(catalog.scan(spark, name, _))

  /** A read of version `v` (one manifest snapshot: its files and its
    * schema stamp); a version without files reads as an empty frame.
    */
  private[graft] def readOf(v: Option[VersionInfo]): DataFrame =
    v.flatMap(catalog.scan(spark, name, _)).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], new StructType()))

  // --- read surface (node.py:141-189) ---

  /** TIME-TRAVEL read: scan a specific retained version by id. Superseded
    * version dirs survive until retention GC, and a version is immutable
    * once superseded, so the scan is reproducible — the audit/debug
    * counterpart of `read` ("what did this table hold before that
    * upsert?"). Unknown or already-GC'd versions fail loudly rather than
    * returning an empty frame a caller could mistake for "no rows".
    */
  def readVersion(vid: String,
      leaseTtlMillis: Long = TableCatalog.DefaultLeaseTtlMillis): DataFrame = {
    require(connected, s"table $name: not connected")
    require(manifest.versions.exists(_.id == vid),
      s"table $name: unknown version '$vid' (known: " +
        s"${manifest.versions.map(_.id).mkString(", ")})")
    // a TTL'd read lease keeps retention sweeps off this version while
    // the returned LAZY frame is still being consumed (crash-safe:
    // expires on its own). Unconditional — even the currently-active
    // version can be superseded by a concurrent replace() and swept
    // before the frame is collected; the active-at-read-time check would
    // be a stale snapshot. The existence check runs AFTER the lease so a
    // sweep that won the race fails loudly here instead of mid-collect.
    catalog.acquireReadLease(name, vid, leaseTtlMillis)
    // a sweep removes the manifest entry with the dir, under the lock the
    // lease took: an entry present now stays readable while leased. A
    // legitimately EMPTY version (reset / crashed-before-write) reads as
    // an empty frame — the same answer read() gives for the active one
    val v = catalog.versionInfo(name, vid)
    require(v.isDefined, s"table $name: version '$vid' has been garbage-collected")
    readOf(v)
  }

  /** Full scan of the active version (node.py:156-166). */
  def read: DataFrame = readOf(activeStamp)

  /** Row-iterator form of read (node.py:141-154 "records"); stays lazy via
    * toLocalIterator so only one partition is resident on the driver.
    */
  def readRecords: Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    read.toLocalIterator().asScala
  }

  /** Chunked record iteration (node.py:144-152 `chunksize`): groups of at
    * most `chunkSize` rows, still lazy via toLocalIterator.
    */
  def readRecordsChunked(chunkSize: Int): Iterator[Seq[Row]] =
    readRecords.grouped(chunkSize)

  /** Arbitrary SQL over this table, referenced by its sqlName
    * (node.py:168-189); opens the whole Spark SQL surface.
    */
  def readSql(sql: String): DataFrame =
    // analysis is eager; the view is dropped after it so a later
    // session-sharing caller can't resolve this table's stale snapshot
    // without declaring it
    GraftEngine.withViews(spark, Seq(sqlName -> read))(spark.sql(sql))

  // --- write surface (node.py:269-414) ---

  /** Declare schema roles at version creation (node.py:269-297).
    * `schema` is the NAME of a schema registered on the engine
    * (node.py:271-283 — "a str name of a commonmodel schema"): its fields
    * become per-field type hints, overridable by explicit `schemaHints`.
    * `addCreated` / `addMonotonicId` are the FIELD NAMES for the auto
    * columns (node.py:286-294) — null leaves the role absent.
    */
  def init(
      schema: String = null,
      schemaHints: Map[String, String] = Map.empty,
      uniqueOn: Seq[String] = Nil,
      addCreated: String = null,
      addMonotonicId: String = null,
      // boxed so "not passed" (null) preserves the persisted flag — every
      // other meta field merges-or-preserves, and a second init() tweaking
      // something else must not silently flip indexing back on
      autoIndexes: java.lang.Boolean = null,
      bucketBy: Int = 0,
      retentionMillis: Long = -1L): Table = {
    require(bucketBy == 0 || uniqueOn.nonEmpty || manifest.meta.uniqueOn.nonEmpty,
      s"bucketBy on '$name' requires unique_on (buckets hash the unique key)")
    val namedHints: Map[String, String] = Option(schema).map { n =>
      val st = engine.resolveSchema(n).getOrElse(throw new IllegalArgumentException(
        s"init(schema = \"$n\") on '$name': no schema registered under that " +
          "name (GraftEngine.registerSchema)"))
      st.fields.map(f => f.name -> f.dataType.catalogString).toMap
    }.getOrElse(Map.empty)
    catalog.updateMeta(name)(m => m.copy(
      schemaHints = m.schemaHints ++ namedHints ++ schemaHints,
      uniqueOn = if (uniqueOn.nonEmpty) uniqueOn.toList else m.uniqueOn,
      addCreated = Option(addCreated).orElse(m.addCreated),
      addMonotonicId = Option(addMonotonicId).orElse(m.addMonotonicId),
      autoIndexes = Option(autoIndexes).fold(m.autoIndexes)(_.booleanValue),
      numBuckets = if (bucketBy > 0) Some(bucketBy) else m.numBuckets,
      retentionMillis =
        if (retentionMillis >= 0L) Some(retentionMillis) else m.retentionMillis))
    this
  }

  /** Buffered insert (node.py:299-316); data hits disk on [[flush]] or at
    * execution end (GraftEngine.endExecution).
    */
  def append(df: DataFrame): Unit = if (connected) buffer += df

  /** Force buffered writes to the active version (node.py:407-414).
    * Appends follow the version's recorded layout ([[VersionInfo.buckets]])
    * — its ORIGINAL bucket count when `init(bucketBy)` has since changed it
    * (mixed layouts/counts in one dir would corrupt bucket-pruned reads);
    * the next upsert/replace migrates the layout. A version that holds no
    * file yet (a first flush, or one after `reset()`) takes the table's
    * current bucket count as its record first.
    * Durability: the batch's rows become visible, and the buffer is
    * cleared, when its files are registered in the manifest (see
    * [[commit]]); a flush that throws before that leaves the table as it
    * was and keeps the buffer, so calling it again lands every row once.
    * A local batch (see the class doc) gets its monotonic ids on the
    * driver, so the write is the flush's only Spark job; within
    * [[inOneTaskIfSmall]]'s bound that job is one task, one file per bucket.
    */
  def flush(): Unit = if (connected && buffer.nonEmpty) catalog.withTableLock(name) {
    val batch = buffer.reduce(_.unionByName(_, allowMissingColumns = true))
    val isNew = manifest.activeVersion.isEmpty
    val vid = manifest.activeVersion.getOrElse {
      val (_, v) = catalog.createVersion(name, bucketCount)
      catalog.setActive(name, Some(v), "create")
      v
    }
    val prev = versionOf(vid)
    if (prev.files.isEmpty && prev.buckets != bucketCount)
      catalog.setVersionBuckets(name, vid, bucketCount)
    val ordered = pinLocal(inVersionOrder(decorate(conform(batch)), prev.readSchema))
    commit(clustered(inOneTaskIfSmall(ordered, ordered, 0L)), vid)
    // cleared at the commit point: a failure before it keeps the buffer
    // (the retry writes the rows; the failed write deleted its files);
    // after it, a retry must not re-append the batch
    buffer.clear()
    if (!isNew) catalog.recordEvent(name, "update")
  }

  // --- hash-bucketed layout (the 100 TB upsert/point-lookup path) ---

  /** Bucket count new versions are minted with, when this table hashes
    * its rows on the unique key into buckets (`init(bucketBy = n)`).
    */
  private def bucketCount: Option[Int] =
    manifest.meta.numBuckets.filter(_ => manifest.meta.uniqueOn.nonEmpty)

  private def withBucket(df: DataFrame, n: Int): DataFrame =
    df.withColumn("__bucket",
      pmod(hash(manifest.meta.uniqueOn.map(col): _*), lit(n)))

  /** Append `df` to version `vid` in the layout the version records.
    *
    * Every Spark write of the engine (flush, upsert, replace, truncate,
    * compact) comes through here, and each carries its own filesystem:
    * [[CatalogFileSystem]], the stock local one except that it sets each
    * new path's POSIX mode in-process instead of forking a `chmod` per
    * file, `.crc` file and directory (the forks held 27% of the task
    * samples of a 200-row-batch app). Modes it cannot set through `java.nio`
    * fall back to Hadoop's `setPermission`. The filesystem is scoped to
    * this write's options: the session's Hadoop conf and the `FileSystem`
    * cache stay as they are.
    */
  private def writeInto(df: DataFrame, vid: String): Unit = {
    val writer = versionOf(vid).buckets match {
      case Some(n) => withBucket(df, n).write.partitionBy("__bucket")
      case None => df.write
    }
    writer.options(CatalogFileSystem.writeOptions).mode(SaveMode.Append)
      .parquet(catalog.versionDir(name, vid).toString)
  }

  /** `df` over its driver-held rows when its plan is local — evaluated
    * once, here, so a later write or merge neither re-evaluates nor
    * re-plans it — else `df` itself.
    */
  private def pinLocal(df: DataFrame): DataFrame =
    LocalInternals.localRows(df)
      .map { case (s, rows) => LocalInternals.localFrame(spark, s, rows) }
      .getOrElse(df)

  /** `out` in ONE task when it writes driver-resident rows `local` merged
    * with `oldBytes` of existing files, and together they fit in
    * `spark.sql.files.maxPartitionBytes` (the input Spark itself packs
    * into one scan task), the rows sized as rows × the schema's
    * `defaultSize`. One task writes one file per bucket instead of one
    * per task per bucket, so versions, their footer stamps and later
    * scans stay at O(buckets) files.
    */
  private def inOneTaskIfSmall(out: DataFrame, local: DataFrame, oldBytes: Long): DataFrame =
    if (LocalInternals.localRows(local).exists { case (s, rows) =>
        rows.size.toLong * s.defaultSize + oldBytes <=
          spark.sessionState.conf.filesMaxPartitionBytes
      }) out.coalesce(1)
    else out

  /** Insert-or-update on the unique key (node.py:318-334), one
    * copy-on-write MERGE into a new version, last writer wins per key:
    *   1. The buckets the incoming keys hash to are the affected ones —
    *      pruned only when the active version's recorded layout is the
    *      table's current bucket count; otherwise (an unbucketed table, a
    *      `bucketBy` migration) every old row is affected.
    *   2. The new version lists the parent's entries for the untouched
    *      buckets as they are — paths into the parent's dir, footer
    *      stamps and all — after the files it writes: O(affected buckets)
    *      compute and bytes instead of O(table), no copy, no footer read.
    *   3. The affected old rows lose the incoming keys
    *      ([[Table.withoutKeysOf]]) and are unioned with the incoming rows.
    *   4. The result is written in the table's current layout; when the
    *      rows plus the affected old bytes fit [[inOneTaskIfSmall]]'s
    *      bound, one task writes it, one file per bucket.
    * Local input (see the class doc) whose key columns are all
    * [[Table.driverGroupable]] is deduped and hashed to its buckets on the
    * driver and re-enters the merge as a `LocalRelation`: old rows are
    * dropped through a filter on its key set, so the merge is one job, the
    * write. Float, binary and nested keys take the Spark window path, a
    * job for the affected buckets, and the join.
    */
  def upsert(df: DataFrame): Unit = if (connected) catalog.withTableLock(name) {
    // the WHOLE read-merge-write holds the table lock (reentrantly shared
    // with flush/createVersion/setActive inside): without it, two writers
    // could merge against the same base version and the second pointer
    // swap would silently drop the first writer's rows
    flush()
    val keys = manifest.meta.uniqueOn
    require(keys.nonEmpty, s"upsert on '$name' requires unique_on (node.py:323)")
    // within-batch duplicates: LAST record per key wins, mirroring the
    // reference's sequential row-at-a-time apply. A driver-resident batch
    // dedups on the driver and stays a local relation through conform and
    // decorate, so the merge below re-reads no input and shuffles nothing
    val local = LocalInternals.localRows(df).flatMap { case (s, rows) =>
      Table.localKeys(s, keys).map(k =>
        LocalInternals.localFrame(spark, s, Table.lastPerKeyLocal(rows, k)))
    }
    val incoming = pinLocal(decorate(conform(local.getOrElse(Table.lastPerKeySpark(df, keys)))))
    val eventKind = if (manifest.activeVersion.isDefined) "update" else "create"
    val oldV = manifest.activeVersion.map(versionOf).filter(_.files.nonEmpty)
    // (bucket count, affected buckets): ≤ n values, never O(data), hashed
    // on the driver for local rows
    val pruned = for (v <- oldV; n <- bucketCount if v.buckets.contains(n)) yield
      n -> LocalInternals.localRows(incoming).flatMap { case (s, rows) =>
        Table.localKeys(s, keys).map(k => rows.map(Table.bucketFn(k, n)).toSet)
      }.getOrElse(withBucket(incoming, n).select("__bucket")
        .distinct().collect().map(_.getInt(0)).toSet)
    val (_, vid) = catalog.createVersion(name, bucketCount)
    val (oldFiles, carried) = oldV.fold((Seq.empty[DataFile], Seq.empty[DataFile])) { v =>
      v.files.partition(f => pruned.forall { case (_, affected) => f.bucket.exists(affected) })
    }
    val old = oldV.flatMap(v => catalog.scan(spark, name, v.copy(files = oldFiles.toList)))
    val parentSchema = oldV.flatMap(_.readSchema)
    val merged = inVersionOrder(old.fold(incoming)(o =>
      incoming.unionByName(Table.withoutKeysOf(o, incoming, keys), allowMissingColumns = true)),
      parentSchema)
    commit(clustered(inOneTaskIfSmall(merged, incoming, oldFiles.map(_.bytes).sum)), vid,
      carried, parentSchema)
    catalog.setActive(name, Some(vid), eventKind)
  }

  /** Bucket-pruned point lookup on the unique key — the `auto_indexes`
    * read path (node.py:277): when the active version records the table's
    * bucket count, scans exactly the one bucket the key hashes to;
    * otherwise a filtered full read (which still min/max-prunes via
    * write-time clustering).
    */
  def lookup(keyValues: Seq[Any]): DataFrame = {
    // dummy/no-data degradation: unconnected or never-written tables have
    // no columns to filter on — return the empty frame, don't fail analysis
    val active = activeStamp
    val sch = active.flatMap(_.readSchema)
    if (sch.isEmpty) return readOf(active)
    val keys = manifest.meta.uniqueOn
    require(keys.nonEmpty && keys.length == keyValues.length,
      s"lookup on '$name' needs unique_on values (${keys.mkString(",")})")
    def typedLit(k: String, v: Any) = sch.flatMap(s =>
      s.fields.find(_.name == k)).map(f => lit(v).cast(f.dataType)).getOrElse(lit(v))
    val eqFilter = keys.zip(keyValues)
      .map { case (k, v) => col(k) === typedLit(k, v) }.reduce(_ && _)
    (bucketCount, active) match {
      // bucket pruning needs the version's recorded count to MATCH the meta
      // count — after a bucketBy change, fall through to the filtered full
      // read (still min/max-pruned by write-time clustering)
      case (Some(n), Some(v)) if v.buckets.contains(n) =>
        // evaluate pmod(hash(key...), n) driver-side — a constant
        // expression shouldn't cost a Spark job per point lookup
        val b = try {
          import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
          // cast in the SESSION timezone — write-time bucketing hashed
          // values the session interpreted, so a hardcoded UTC here would
          // hash string-typed timestamp keys into the wrong bucket
          val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
          val typed = keys.zip(keyValues).map { case (k, v) =>
            val dt = sch.flatMap(_.fields.find(_.name == k)).map(_.dataType)
              .getOrElse(Literal(v).dataType)
            (Cast(Literal(v), dt, tz).eval(null), dt)
          }
          Table.bucketFn(typed.map(_._2).zipWithIndex.map(_.swap), n)(
            InternalRow.fromSeq(typed.map(_._1)))
        } catch {
          case NonFatal(_) => // fall back to cluster-side evaluation
            spark.range(1).select(pmod(hash(
              keys.zip(keyValues).map { case (k, v) => typedLit(k, v) }: _*),
              lit(n)).as("b")).head.getInt(0)
        }
        catalog.scan(spark, name, v.copy(files = v.files.filter(_.bucket.contains(b))))
          .map(_.filter(eqFilter)).getOrElse(readOf(active).limit(0))
      case _ => readOf(active).filter(eqFilter)
    }
  }

  /** New version containing only these records (node.py:336-345 —
    * "reset() then append(records)").
    */
  def replace(df: DataFrame): Unit = if (connected) catalog.withTableLock(name) {
    buffer.clear()
    catalog.recordEvent(name, "reset")
    // reference defines replace as reset()+append() (node.py:336-345), so it
    // must share the append path's schema-on-write conformance
    writeNewVersion(decorate(conform(df)), bucketCount, "create")
  }

  /** Delete all rows, keep schema (node.py:347-354). */
  def truncate(): Unit = if (connected) catalog.withTableLock(name) {
    buffer.clear()
    val empty = activeDf match {
      case Some(df) => df.limit(0)
      case None => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], new StructType())
    }
    // plain (unbucketed) write: the dynamic-partition writer creates files
    // lazily per row, so zero rows through partitionBy would leave NO
    // parquet files and lose the schema this op promises to keep
    writeNewVersion(empty, None, "update")
  }

  /** Consolidate the ACTIVE version's file layout into a new version with
    * identical rows — small-files compaction for append-heavy tables
    * (every flush writes ≥1 parquet file per task, so a long-running feed
    * degrades every downstream scan with per-file open + footer costs).
    * The new version records the active version's layout, even when
    * `init(bucketBy)` has changed the table's count since (the next
    * upsert/replace migrates): a bucketed layout merges the files within
    * each bucket, so lookups keep pruning; a plain layout coalesces to
    * `targetFiles` — coalesce, not repartition: no shuffle, just fewer,
    * larger files. Write-time clustering
    * (sortWithinPartitions on the key/role columns) is reapplied so
    * min/max file pruning survives the rewrite. The pointer swap records
    * a "compact" event for observability but does NOT bump the trigger
    * counter: content is unchanged, so downstream nodes must not re-run.
    *
    * Like every version swap (upsert/replace/truncate), compaction moves
    * the active pointer to a new version, and the superseded version's
    * retention clock starts at the swap. Readers that follow the manifest
    * (`Stream`, `StreamingPipelines.tailTable`, `GraftTableSource`) keep
    * their cursor across the swap and see each row once; a raw file-stream
    * over the old dir (`StreamingPipelines.tailParquet`) stops seeing
    * appends and must be restarted.
    */
  def compact(targetFiles: Int = 1): Unit = if (connected) {
    // bucketed layouts always consolidate to one file PER BUCKET dir —
    // reject a non-default target instead of silently ignoring it
    require(bucketCount.isEmpty || targetFiles == 1,
      s"compact(targetFiles=$targetFiles): bucketed tables emit one file " +
        "per __bucket dir; targetFiles is only meaningful for plain layouts")
    catalog.withTableLock(name) {
    flush()
    val layout = manifest.activeVersion.flatMap(versionOf(_).buckets)
    activeDf.foreach { df =>
      if (df.isEmpty)
        // same guard as truncate: zero rows through the partitionBy writer
        // would emit NO parquet files and lose the schema this op promises
        // to keep — write the empty frame plain instead
        writeNewVersion(df, None, "compact", trigger = false)
      else {
        val consolidated = layout match {
          // One shuffle partition per bucket BEFORE the write: all rows of
          // a bucket land in a single task, so the partitionBy writer
          // emits exactly one file per __bucket dir. Without this, each
          // read partition writes its own file into every bucket it
          // touches and a large table consolidates ~nothing. (writeInto
          // re-derives __bucket from the same key hash, so rows stay where
          // the shuffle put them; clustering re-sorts within each
          // partition after.)
          case Some(n) =>
            withBucket(df, n).repartition(n, col("__bucket")).drop("__bucket")
          case None => df.coalesce(math.max(1, targetFiles))
        }
        writeNewVersion(consolidated, layout, "compact", trigger = false)
      }
    }
    }
  }

  /** Active pointer := fresh null version, recording the table's current
    * layout; old data stays on disk until GC'd per retention policy
    * (node.py:399-405, :216-222).
    */
  def reset(): Unit = if (connected) {
    buffer.clear()
    val (_, vid) = catalog.createVersion(name, bucketCount)
    catalog.setActive(name, Some(vid), "reset")
  }

  /** Arbitrary DDL/DML scoped to this table (node.py:356-373); the parsed
    * plan's root classifies create-vs-modify for event emission
    * (node.py:360-362).
    */
  def executeSql(sql: String): DataFrame = if (!connected) spark.emptyDataFrame else {
    val planClass = spark.sessionState.sqlParser.parsePlan(sql)
      .getClass.getSimpleName.toLowerCase
    val result = GraftEngine.withViews(spark,
      if (hasActiveVersion) Seq(sqlName -> read) else Nil)(spark.sql(sql))
    // classify create-vs-modify from the parsed plan root (node.py:360-362);
    // a side-effect-free query emits NO event — phantom updates would
    // spuriously cascade every downstream consumer
    if (planClass.contains("create")) signalCreate()
    else if (Seq("insert", "update", "delete", "merge", "drop", "alter",
        "truncate", "replace").exists(planClass.contains)) signalUpdate()
    result
  }

  // --- version ops + signals (node.py:224-230, :375-397) ---

  def createNewVersion(): String = catalog.createVersion(name, bucketCount)._2
  def getActiveVersion: Option[String] = manifest.activeVersion
  def setActiveVersion(vid: String): Unit = catalog.setActive(name, Some(vid), "update")
  def signalCreate(): Unit = if (connected) catalog.recordEvent(name, "create")
  def signalUpdate(): Unit = if (connected) catalog.recordEvent(name, "update")
  def signalReset(): Unit = if (connected) catalog.recordEvent(name, "reset")

  /** Ordered exactly-once cursor over this table (node.py:191-214).
    * Default ordering: the strictly-monotonic id role if declared, else the
    * created role, else error (node.py:196-200).
    */
  def asStream(orderBy: String = null, startingValue: Option[Any] = None): Stream = {
    val ob = streamOrder(orderBy)
    engine.streamFor(s"$name::$ob")(
      new Stream(this, ob, engine.state, startingValue))
  }

  /** A stream's order column ([[graft.catalog.TableMeta.streamOrder]]). */
  private[graft] def streamOrder(orderBy: String = null): String =
    manifest.meta.streamOrder(name, Option(orderBy))

  // --- write-path helpers ---

  /** Schema-on-write conformance (node.py:303-304 + SURVEY.md §7.4.3):
    * cast columns shared with the active schema to the existing type
    * (safe-widen policy), apply declared schema_hints, pass new columns
    * through (read side merges schemas).
    */
  private def conform(df: DataFrame): DataFrame =
    Table.conformed(df, manifest.meta.schemaHints, schema.toSeq
      .flatMap(_.fields).filterNot(f => monotonicCol.contains(f.name))
      .map(f => f.name -> f.dataType).toMap)

  /** Auto-column decoration (node.py:286-294): created timestamp and the
    * strictly-monotonic base32 id backed by the catalog high-water mark
    * (monotonically_increasing_id alone is neither dense nor stable across
    * executions — SURVEY.md §4.3).
    */
  private def decorate(df: DataFrame): DataFrame = {
    val meta = manifest.meta
    val withCreated = meta.addCreated match {
      case Some(c) if !df.columns.contains(c) =>
        df.withColumn(c, current_timestamp())
      case _ => df
    }
    meta.addMonotonicId match {
      case Some(mc) if !withCreated.columns.contains(mc) =>
        // a driver-resident batch (webhook rows, node-built rows, stream
        // output) gets its ids on the driver; anything else counts rows
        // per partition in Spark first
        val reserve = (n: Long) => catalog.reserveIds(name, n)
        LocalInternals.localRows(withCreated) match {
          case Some((s, rows)) => Table.localIds(spark, s, rows, mc, reserve)
          case None => Table.denseIds(withCreated, mc, reserve)
        }
      case _ => withCreated
    }
  }

  /** auto_indexes (node.py:277, :295-297): Spark has no secondary indexes;
    * the equivalent is write-time clustering — sort within partitions on
    * the unique key (and any stream-ordering role column) so parquet
    * min/max stats prune files for key lookups and cursor scans.
    */
  private def clustered(df: DataFrame): DataFrame = {
    val meta = manifest.meta
    val sortCols =
      (if (meta.autoIndexes) meta.uniqueOn else Nil) ++
        meta.addMonotonicId.orElse(meta.addCreated).toSeq
    val usable = sortCols.distinct.filter(df.columns.contains)
    if (usable.nonEmpty) df.sortWithinPartitions(usable.map(col): _*) else df
  }

  private def writeNewVersion(df: DataFrame, buckets: Option[Int], eventKind: String,
      trigger: Boolean = true): Unit = {
    val (_, vid) = catalog.createVersion(name, buckets)
    commit(clustered(df), vid)
    catalog.setActive(name, Some(vid), eventKind, trigger)
  }
}

object Table {
  /** Test hook: runs after a write's Spark job, before its files are
    * stamped and registered — lets specs inject a failure there and pin
    * that nothing becomes visible and a retry lands every row once.
    */
  private[graft] var postAppendHook: () => Unit = () => ()

  /** 13-char zero-padded base32: lexicographic order == numeric order
    * (node.py:291-294 "unique, strictly monotonically increasing base32
    * string").
    */
  def base32(v: Long): String = {
    val s = java.lang.Long.toString(v, 32)
    "0" * (13 - s.length) + s
  }

  /** The bucket `pmod(hash(keys...), n)` assigns, evaluated on the driver:
    * `keys` are (ordinal, type) of the key columns in the rows passed to
    * the returned function. The same `Murmur3Hash(…, 42)` expression the
    * `hash` function builds, so it agrees with the write-time `__bucket`
    * column bit for bit — the one driver-side hashing recipe (upsert's
    * affected-bucket set, lookup's bucket).
    */
  private[graft] def bucketFn(keys: Seq[(Int, DataType)], n: Int): InternalRow => Int = {
    val h = Murmur3Hash(keys.map { case (i, dt) => BoundReference(i, dt, nullable = true) }, 42)
    row => {
      val v = h.eval(row).asInstanceOf[Int]
      ((v % n) + n) % n
    }
  }

  /** Key types whose driver-side equality (`equals` on Catalyst's internal
    * values) is exactly Spark's grouping equality. Floating point is out
    * (Spark groups NaNs and ±0.0 together), as are binary (array identity),
    * non-binary collations and nested types: those keys take the Spark path.
    */
  private[graft] def driverGroupable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        DateType | TimestampType | TimestampNTZType | _: DecimalType => true
    case s: StringType => LocalInternals.binaryString(s)
    case _ => false
  }

  /** (ordinal, type) of each key column in `schema`, when every key is a
    * top-level column of a [[driverGroupable]] type; else None.
    */
  private[graft] def localKeys(schema: StructType,
      keys: Seq[String]): Option[Seq[(Int, DataType)]] = {
    val found = keys.map(k => schema.fieldNames.indexOf(k))
    if (found.exists(_ < 0)) None
    else Some(found.map(i => i -> schema(i).dataType))
      .filter(_.forall(k => driverGroupable(k._2)))
  }

  /** `df` conformed in one projection, columns in place: a hinted
    * column cast to its hint (a type string), then a column of
    * `existing` cast to that type. Columns match by exact name.
    */
  private[graft] def conformed(df: DataFrame, hints: Map[String, String],
      existing: Map[String, DataType]): DataFrame = {
    val cols = df.columns
    if (!cols.exists(c => hints.contains(c) || existing.contains(c))) df
    else df.select(cols.toSeq.map { c =>
      val in = col("`" + c.replace("`", "``") + "`")
      if (!hints.contains(c) && !existing.contains(c)) in
      else existing.get(c).foldLeft(hints.get(c).fold(in)(t => in.cast(t)))(_.cast(_)).as(c)
    }: _*)
  }

  /** `old` without the rows an upsert's `incoming` rows replace: the
    * `left_anti` join on `keys`. When `incoming` is local, its keys are
    * [[localKeys]] and its key set fits `spark.sql.autoBroadcastJoinThreshold`
    * (the size at which Spark would broadcast it for the join), a filter
    * on the driver-held key set instead: the broadcast runs a Spark job
    * only to collect rows the driver already holds. Same null semantics as
    * the join: an old row with a null key is kept, and an incoming row
    * with a null key removes nothing.
    */
  private[graft] def withoutKeysOf(old: DataFrame, incoming: DataFrame,
      keys: Seq[String]): DataFrame = {
    val bound = old.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    LocalInternals.localRows(incoming).flatMap { case (s, rows) =>
      localKeys(s, keys)
        .filter(k => bound > 0 && rows.size <= bound / math.max(1, k.map(_._2.defaultSize).sum))
        .flatMap(k => LocalInternals.withoutKeys(old, keys, k.map(_._2),
          rows.iterator.map(r => k.map { case (i, dt) => r.get(i, dt) })
            .filterNot(_.contains(null))))
    }.getOrElse(old.join(incoming, keys, "left_anti"))
  }

  /** Within-batch duplicates, Spark form: the LAST row per key wins,
    * position being the input's partition-ordered row sequence (the
    * reference applies rows one at a time).
    */
  private[graft] def lastPerKeySpark(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("__pos").desc)
    df.withColumn("__pos", monotonically_increasing_id())
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__pos", "__rn")
  }

  /** [[lastPerKeySpark]] over driver-held rows (`keys` from [[localKeys]]):
    * plan order is the partition-ordered sequence of a local scan.
    */
  private[graft] def lastPerKeyLocal(rows: Seq[InternalRow],
      keys: Seq[(Int, DataType)]): Seq[InternalRow] = {
    def key(r: InternalRow): Seq[Any] = keys.map { case (i, dt) => r.get(i, dt) }
    val last = scala.collection.mutable.HashMap.empty[Seq[Any], Int]
    rows.iterator.zipWithIndex.foreach { case (r, i) => last(key(r)) = i }
    rows.iterator.zipWithIndex.collect { case (r, i) if last(key(r)) == i => r }.toSeq
  }

  /** Monotonic ids, Spark form. One cheap counting pass (spark_partition_id
    * groupBy — partial agg collapses each partition to a single row before
    * the shuffle), then ids are assigned by a codegen'd Stateful expression
    * seeded with the per-partition prefix sums. Unlike the localCheckpoint
    * + zipWithIndex formulation this pins nothing in executor storage and
    * the write stays inside whole-stage codegen. The two passes see the
    * same partitioning ONLY for a deterministic plan — a nondeterministic
    * batch (sample(), rand() filters) could mint a different row set than
    * the one ids were reserved for, so those are pinned once up front.
    * `reserve(n)` reserves n ids and returns the first (exclusive).
    */
  private[graft] def denseIds(df: DataFrame, mc: String,
      reserve: Long => Long): DataFrame = {
    val deterministic = df.queryExecution.analyzed.collectFirst {
      // plan-LEVEL nondeterminism too: Sample re-executed over a
      // different upstream partitioning (task retry, AQE re-plan) yields
      // a different row set even with a fixed seed
      case p: org.apache.spark.sql.catalyst.plans.logical.Sample => p
      case p if p.expressions.exists(e => !e.deterministic) => p
    }.isEmpty
    // partitioning-STABILITY guard: the counting pass and the write pass
    // are separate executions, and a plan containing a shuffle can be
    // AQE-coalesced differently across them (same stats ⇒ same decision
    // usually, but it is unspecified) — which would assign ids against
    // the wrong per-partition prefix sums. Only plans whose partitioning
    // is file-split-deterministic (scans, unions of materialized frames —
    // the normal append shape) skip the pin.
    def hasShuffle(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          hasShuffle(a.inputPlan)
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
        case other => other.children.exists(hasShuffle)
      }
    val stablePartitioning =
      deterministic && !hasShuffle(df.queryExecution.executedPlan)
    val base = if (stablePartitioning) df else df.localCheckpoint(true)
    val numParts = base.rdd.getNumPartitions
    val counts = new Array[Long](numParts)
    if (numParts > 0)
      base.groupBy(spark_partition_id().as("__p")).count()
        .collect().foreach(r => counts(r.getInt(0)) = r.getLong(1))
    val offsets = counts.scanLeft(0L)(_ + _).init
    val start = reserve(counts.sum)
    // base32 formatting via builtins (conv emits uppercase 0-9A-V;
    // lower() matches Table.base32's 0-9a-v), still codegen'd
    base.withColumn(mc,
      lpad(lower(conv(graft.functions.DenseRowId.column(base.sparkSession, start, offsets)
        .cast(StringType), 10, 32)), 13, "0"))
  }

  /** Monotonic ids, driver form, for rows a local plan holds: row `i` of
    * the plan order gets `start + i + 1` — exactly the id [[denseIds]]
    * assigns, because a local scan hands each task a contiguous slice and
    * a union hands out its children in order, so partition `p`'s offset is
    * the count of rows before its slice. No counting job.
    */
  private[graft] def localIds(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow], mc: String, reserve: Long => Long): DataFrame = {
    val start = reserve(rows.size.toLong)
    LocalInternals.localFrame(spark, schema.add(mc, StringType, nullable = true),
      rows.zipWithIndex.map { case (r, i) =>
        InternalRow.fromSeq(r.toSeq(schema) :+ UTF8String.fromString(base32(start + i + 1)))
      })
  }
}
