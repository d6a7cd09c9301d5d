package graft.catalog

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.{LocalInternals, SchemaInternals}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DecimalType,
  DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType,
  TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.Serialization

/** One data file of a version: its path relative to the table dir (under
  * the dir of the version that wrote it, which an upsert's later versions
  * keep listing), the hash bucket it holds (None in a flat layout), its
  * size in bytes, and its footer stamp, read once when its write commits:
  * `rows`, the `maxes` of the top-level columns whose footer statistics
  * are usable ([[VersionInfo.encode]]d), and the columns its footer
  * `disqualified` (present, but without a usable max). A column in
  * neither holds no value in this file. An entry without `rows` was
  * written before entries were stamped.
  */
case class DataFile(path: String, bucket: Option[Int], bytes: Long,
    rows: Option[Long] = None, maxes: Map[String, String] = Map.empty,
    disqualified: List[String] = Nil)

/** One concrete materialization of a table (reference node.py:84-114),
  * identified by `id`: the data files its manifest entry lists. The list
  * is the version's contents. A file lives under the dir of the version
  * that wrote it (`<id>/`), and an upsert lists its parent's files for the
  * buckets it leaves untouched, so an entry may name files in an older
  * version's dir; a file in a dir that no entry lists (the output of a
  * write that failed before registering) is part of no version.
  * `supersededAt` is stamped when the version stops being active — the
  * retention clock runs from THAT moment (a version active for a year
  * then replaced is brand-new garbage, not year-old garbage).
  *
  * The version's row count (reference TableVersion.record_count,
  * node.py:106-109) and per-column maxes are not stored: [[rowCount]] and
  * [[cursorMax]] fold the listed files' stamps, so every write keeps them
  * equal to a fresh footer recompute by construction.
  */
case class VersionInfo(id: String, createdAt: Long,
    supersededAt: Option[Long] = None,
    // the version's merged Spark schema (StructType JSON), folded at
    // commit from the schema Spark's writer records in each listed file's
    // footer — the explicit read schema of every read of the version
    // ([[TableCatalog.scan]]), so building one starts no Spark job. None
    // for a version without files.
    schema: Option[String] = None,
    // the version's physical layout: `Some(n)` = its rows are hashed on the
    // unique key into n `__bucket=K` dirs, None = flat files. Recorded under
    // the table lock BEFORE the version's first data file exists (at
    // [[TableCatalog.createVersion]], or by the first write into a version
    // minted empty), so every later write into the version and every
    // bucket-pruned read of it follows this record, never the table's
    // current `numBuckets`, which `init(bucketBy)` may have changed since.
    buckets: Option[Int] = None,
    // the version's data files, registered with the schema stamp above in
    // the same manifest mutation ([[TableCatalog.registerFiles]]); a
    // manifest written without file lists reads as fileless
    files: List[DataFile] = Nil) {

  /** The schema a read of this version takes: the stamp, when the version
    * lists files.
    */
  def readSchema: Option[StructType] =
    if (files.isEmpty) None else schema.flatMap(SchemaInternals.parse)

  /** Rows in the listed files: the sum of their stamps, so
    * `Table.recordCount` is O(1). None when an entry has no stamp.
    */
  def rowCount: Option[Long] =
    files.foldLeft(Option(0L))((acc, f) => for (a <- acc; r <- f.rows) yield a + r)

  /** Per-column MAX over the listed files, [[VersionInfo.encode]]d: what
    * makes `GraftTableSource.getOffset` a manifest lookup instead of a
    * per-poll scan. The files' stamps fold by the rule of
    * `Table.footerStatsCore`: a file without a column leaves it as it
    * is, a file that disqualifies it (or has no stamp) removes it, and a
    * column whose values do not compare is removed. A column missing
    * here makes readers fall back to a scan, never return a wrong offset.
    */
  def cursorMax: Map[String, String] = {
    val types = readSchema.fold(Map.empty[String, DataType])(
      _.fields.map(f => f.name -> f.dataType).toMap)
    files.foldLeft(Map.empty[String, Option[Any]]) { (acc, f) =>
      val stamp: Iterable[(String, Option[Any])] =
        if (f.rows.isEmpty) types.keys.map(_ -> None)
        else f.maxes.map { case (k, enc) =>
          k -> types.get(k).flatMap(dt => scala.util.Try(VersionInfo.decode(enc, dt)).toOption)
        } ++ f.disqualified.map(_ -> None)
      stamp.foldLeft(acc) { case (a, (k, v)) => VersionInfo.foldMax(a, k, v) }
    }.collect { case (k, Some(v)) => k -> VersionInfo.encode(v) }
  }

  /** The one "rows after a cursor" recipe of every stream read
    * (`Stream.consumeRecords`, `GraftTableSource`'s poll and batches):
    * this version restricted to the listed files that may hold a row
    * whose `column` lies above `cursor` (every file with rows, for no
    * cursor), or None when no file does, i.e. nothing is new. A file is
    * left out only when its stamp decides it: it holds no rows, or its
    * max of `column` is at or below the cursor. A file whose max is
    * undecidable (unstamped, disqualified, a cursor of another type) is
    * kept. The restriction's [[cursorMax]] of `column` is the column's
    * folded max wherever that lies above the cursor. So a consume reads
    * the files a cursor has not passed, not the version's history.
    */
  def after(column: String, cursor: Option[Any]): Option[VersionInfo] = {
    val dt = readSchema.flatMap(_.find(_.name == column)).map(_.dataType)
    val kept = files.filterNot(f => f.rows.contains(0L) || (for {
      c <- cursor
      d <- dt
      enc <- f.maxes.get(column)
    } yield VersionInfo.atOrBelow(enc, d, c)).contains(true))
    if (kept.isEmpty) None else Some(copy(files = kept))
  }
}

object VersionInfo {
  /** A stamped max value, and the streaming source's offset: timestamps
    * as ISO-8601 instants, everything else in its SQL string form (a
    * `java.sql.Date` prints as an ISO date).
    */
  def encode(v: Any): String = v match {
    case ts: java.sql.Timestamp => ts.toInstant.toString
    case other => other.toString
  }

  /** Inverse of [[encode]] for a column of type `dt`, as the runtime class
    * a scan of that column returns, so decoded and scanned values compare
    * with a raw `Comparable` cast. Throws on a string that is not of `dt`;
    * types without a case come back as the string itself.
    */
  def decode(enc: String, dt: DataType): Any = dt match {
    case LongType => enc.toLong
    case IntegerType => enc.toInt
    case ShortType => enc.toShort
    case ByteType => enc.toByte
    case DoubleType => enc.toDouble
    case FloatType => enc.toFloat
    case DateType => java.sql.Date.valueOf(enc)
    case _: DecimalType => new java.math.BigDecimal(enc)
    case TimestampType => java.sql.Timestamp.from(java.time.Instant.parse(enc))
    case _ => enc
  }

  /** Running per-column maxes with one more stamp of `column` folded in:
    * `Some(v)` a usable max, `None` a disqualifying one. A disqualified
    * column stays so; values that do not compare (files whose column
    * differs in physical type) disqualify it instead of failing the
    * commit. The one fold of row groups into a file's stamp and of files'
    * stamps into a version's.
    */
  private[graft] def foldMax(acc: Map[String, Option[Any]], column: String,
      v: Option[Any]): Map[String, Option[Any]] =
    acc.get(column) match {
      case Some(None) => acc
      case prev => acc.updated(column, (prev.flatten, v) match {
        case (_, None) => None
        case (None, nv) => nv
        case (Some(p), Some(n)) =>
          try Some(if (p.asInstanceOf[Comparable[Any]].compareTo(n) >= 0) p else n)
          catch { case _: ClassCastException => None }
      })
    }

  /** Whether the stamped max `enc` is at or below `cursor` in Spark's
    * ordering of `dt`. False when the cursor's runtime class does not
    * compare exactly with the column's (a timestamp cursor reloaded as a
    * string, a seek()ed value of another type): the file is then read.
    */
  private def atOrBelow(enc: String, dt: DataType, cursor: Any): Boolean =
    scala.util.Try((dt, cursor) match {
      // a persisted cursor reloads as a Long whatever its column's width
      case (LongType | IntegerType, c @ (_: java.lang.Long | _: java.lang.Integer)) =>
        enc.toLong <= c.asInstanceOf[Number].longValue
      case (s: StringType, c: String) if LocalInternals.binaryString(s) =>
        UTF8String.fromString(enc).compareTo(UTF8String.fromString(c)) <= 0
      case (TimestampType, c: java.sql.Timestamp) =>
        !java.sql.Timestamp.from(java.time.Instant.parse(enc)).after(c)
      case _ => false
    }).getOrElse(false)
}

/** A version's listed files as a Spark `FileIndex`: `files` are (absolute
  * path, bytes) pairs, `dir` the version dir (its root path for plans and
  * path-based cache refresh). Planning a scan over it makes no filesystem
  * call, however many files it holds; a read of the same files as
  * explicit paths would probe each one and start a listing job above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths.
  */
private[catalog] case class ListedFileIndex(dir: HPath, files: Seq[(HPath, Long)])
    extends FileIndex {
  private lazy val statuses: Array[FileStatus] =
    files.map { case (p, bytes) => new FileStatus(bytes, false, 0, 0L, 0L, p) }.toArray

  override def rootPaths: Seq[HPath] = Seq(dir)
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  override def inputFiles: Array[String] = statuses.map(_.getPath.toString)
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_._2).sum
  override def partitionSchema: StructType = new StructType()
}

/** Catalog event log entry (reference node.py:387-397 signal_create/update/
  * reset) — drives downstream node triggering in the graph runner.
  */
case class TableEvent(kind: String, versionId: String, at: Long)

/** Schema-role metadata declared via Table.init (reference node.py:269-297):
  * upsert key, per-field type hints, auto-created/auto-id columns, and the
  * persisted high-water mark backing the strictly-monotonic id column.
  */
case class TableMeta(
    uniqueOn: List[String] = Nil,
    schemaHints: Map[String, String] = Map.empty,
    addCreated: Option[String] = None,     // field NAME for the auto_now column
    addMonotonicId: Option[String] = None, // field NAME for the base32 id column
    autoIndexes: Boolean = true,
    highWaterMark: Long = 0L,
    // hash-bucket count over uniqueOn for versions minted from now on: they
    // are laid out as __bucket=K partition dirs so upsert rewrites only
    // affected buckets and point lookups scan a single bucket (the 100 TB
    // upsert path); each version records its own count (VersionInfo.buckets)
    numBuckets: Option[Int] = None,
    // retention policy (reference node.py:403-404): non-active versions
    // older than this are swept automatically on every version swap.
    // None = keep forever (manual gc only). Like any vacuum, a sweep can
    // race an in-flight lazy read of an old version — set retention above
    // the longest expected job, not to 0.
    retentionMillis: Option[Long] = None) {

  /** A stream's order column over table `name`: `orderBy` when given,
    * else the strictly-monotonic id role, which wins over the created role
    * (node.py:286-294); throws when the table declares neither.
    */
  def streamOrder(name: String, orderBy: Option[String]): String =
    orderBy.orElse(addMonotonicId).orElse(addCreated).getOrElse(
      throw new IllegalArgumentException(s"stream over '$name' needs orderBy or a " +
        "monotonic/created schema role (node.py:196-200)"))
}

/** Per-table manifest: active-version pointer + version/event history
  * (reference node.py:87-89 — one-or-zero active versions per table).
  */
case class TableManifest(
    name: String,
    activeVersion: Option[String],
    versions: List[VersionInfo],
    events: List[TableEvent],
    meta: TableMeta,
    versionCounter: Long = 0L,
    // total events EVER recorded — survives the event-list trim below and
    // is what downstream triggering compares (GraphRunner); events itself
    // keeps only the newest [[TableCatalog.MaxEvents]] entries so the
    // manifest stays O(1) under unbounded append workloads
    eventCounter: Long = 0L)

/** Versioned parquet catalog — the engine-side replacement for the hosted
  * platform's table store (SURVEY.md §1.1, §4.3).
  *
  * Layout: `<root>/<table>/manifest.json` + `<root>/<table>/<versionId>/`
  * (the parquet dir each version writes into; a bucketed version writes
  * one `__bucket=K` dir per bucket, its count recorded in the manifest as
  * [[VersionInfo.buckets]]). The manifest, not the directory, is the
  * truth: a version is the file list in its entry
  * ([[VersionInfo.files]]), each file with its footer stamp, registered
  * in one mutation at the end of each write ([[registerFiles]]). An entry
  * may name files in another version's dir: an upsert lists its parent's
  * files for the buckets it does not rewrite. Every read —
  * [[scan]], the canonical (lazy, plan-only) recipe shared by every
  * batch/streaming/time-travel reader — takes the files and the read
  * schema from one manifest read, and neither lists a directory nor
  * starts a Spark job to plan. Mutations are metadata-only: data never
  * moves through the driver, and only Spark jobs write data files.
  *
  * Old versions stay on disk after reset/replace "until garbage collected
  * according to the table's retention policy" (reference node.py:403-404);
  * [[gc]] implements the retention sweep, file by file.
  */
class TableCatalog(val root: Path) {
  private implicit val fmts: Formats = DefaultFormats

  // in-JVM manifest cache: every mutation goes through save(), which
  // refreshes the entry, so repeated manifest reads within an operation
  // don't re-hit disk. Mutations additionally serialize on a per-table
  // FILE lock (withTableLock) and re-read from disk first, so MULTIPLE
  // writers — other catalog instances, other JVMs — on one catalog dir
  // compose instead of clobbering each other's pointer swaps.
  private val manifestCache =
    scala.collection.mutable.Map.empty[String, TableManifest]

  Files.createDirectories(root)

  /** Cross-writer mutual exclusion for one table's manifest: an OS
    * advisory lock on `<table>/manifest.lock` (released by the kernel on
    * process death — no stale-lock sweeping), fronted by a JVM-wide gate
    * because `FileChannel.lock` throws rather than blocks when the SAME
    * process already holds the region. Reentrant per thread (setActive's
    * retention gc nests inside its own lock).
    *
    * `private[graft]` so Table's copy-on-write ops (upsert/replace/...)
    * can hold it across their whole read-merge-write: the manifest
    * mutations alone being atomic would still let two interleaved upserts
    * read the same base version and silently drop one writer's rows at
    * the pointer swap. Readers never take it — a scan of the active
    * version needs no lock.
    */
  private[graft] def withTableLock[A](name: String)(f: => A): A = {
    Files.createDirectories(tableDir(name))
    val lockPath = tableDir(name).resolve("manifest.lock")
    val key = lockPath.toAbsolutePath.normalize.toString
    if (TableCatalog.heldLocks.get.contains(key)) f
    else {
      val gate = TableCatalog.jvmGates.computeIfAbsent(key, _ => new Object)
      gate.synchronized {
        val ch = java.nio.channels.FileChannel.open(lockPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val fl = ch.lock() // blocks until cross-process exclusive
          TableCatalog.heldLocks.get.add(key)
          // entering the critical section: drop this instance's cached
          // manifest so the first read inside sees whatever another
          // writer committed while we waited for the lock — without
          // this, an upsert would merge against a stale base version
          synchronized { manifestCache -= name }
          try f finally {
            TableCatalog.heldLocks.get.remove(key)
            fl.release()
          }
        } finally ch.close()
      }
    }
  }

  /** Read-modify-write under the table lock, starting from the FRESHEST
    * on-disk manifest (the in-JVM cache is dropped first: another writer
    * may have advanced the manifest since we last read it). Every
    * mutation below goes through here — the manifest equivalent of a
    * compare-and-swap loop, with the lock standing in for the retry.
    */
  private def mutate(name: String)(f: TableManifest => TableManifest): TableManifest =
    withTableLock(name) {
      synchronized { manifestCache -= name }
      val m = loadOrCreate(name)
      val m2 = f(m)
      save(m2)
      m2
    }

  def tableDir(name: String): Path = root.resolve(name)
  def versionDir(name: String, vid: String): Path = tableDir(name).resolve(vid)
  private def manifestPath(name: String): Path = tableDir(name).resolve("manifest.json")

  /** The parquet files in version `vid`'s dir now, as unstamped manifest
    * entries. A write's files are this listing after it minus this
    * listing before it. Commits and [[gc]] list; reads never do. This
    * class is the single owner of the version-dir layout (flat files, or
    * one `__bucket=K` dir per bucket of a bucketed version). A dir a
    * retention sweep deleted lists as empty.
    */
  def filesOnDisk(name: String, vid: String): Seq[DataFile] = {
    def parquetIn(d: java.io.File, bucket: Option[Int]): Seq[DataFile] =
      Option(d.listFiles((f: java.io.File) => f.getName.endsWith(".parquet")))
        .getOrElse(Array.empty[java.io.File]).toSeq
        .map(f => DataFile(relPath(vid, bucket, f.getName), bucket, f.length))
    val d = versionDir(name, vid).toFile
    parquetIn(d, None) ++ Option(d.listFiles((f: java.io.File) =>
        f.isDirectory && f.getName.startsWith(TableCatalog.BucketPrefix)))
      .getOrElse(Array.empty[java.io.File]).toSeq
      .flatMap(b => parquetIn(b, Some(b.getName.stripPrefix(TableCatalog.BucketPrefix).toInt)))
  }

  private def relPath(vid: String, bucket: Option[Int], file: String): String =
    (Seq(vid) ++ bucket.map(k => s"${TableCatalog.BucketPrefix}$k") :+ file).mkString("/")

  /** Version `vid`'s manifest entry, from the ON-DISK manifest: another
    * writer (another catalog instance or JVM) may have registered files
    * since this instance cached it.
    */
  def versionInfo(name: String, vid: String): Option[VersionInfo] =
    refresh(name).flatMap(_.versions.find(_.id == vid))

  /** The active version's manifest entry, from the on-disk manifest. */
  def activeInfo(name: String): Option[VersionInfo] =
    refresh(name).flatMap(m => m.activeVersion.flatMap(vid => m.versions.find(_.id == vid)))

  /** The canonical read of one version, shared by every batch, streaming
    * and time-travel reader: exactly the files its entry lists, read with
    * the entry's schema stamp. A reader of part of the version (upsert's
    * affected buckets, lookup's one bucket, a stream's files past its
    * cursor) passes the entry with its `files` narrowed. Building it
    * starts no Spark job and makes no filesystem call. None when no file
    * is listed: a fileless version (reset, a failed first write, a
    * manifest without file lists) reads as "no data yet".
    */
  def scan(spark: SparkSession, name: String, v: VersionInfo): Option[DataFrame] =
    for (schema <- v.readSchema) yield
      spark.baseRelationToDataFrame(HadoopFsRelation(
        ListedFileIndex(new HPath(versionDir(name, v.id).toUri),
          v.files.map(f => new HPath(tableDir(name).resolve(f.path).toUri) -> f.bytes)),
        new StructType(), schema, None, new ParquetFileFormat, Map.empty)(spark))

  def exists(name: String): Boolean = Files.exists(manifestPath(name))

  def load(name: String): Option[TableManifest] = synchronized {
    manifestCache.get(name).orElse {
      def parse(p: Path): TableManifest = Serialization.read[TableManifest](
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      val tmp = tableDir(name).resolve("manifest.json.tmp")
      // Recovery for save()'s non-atomic fallback window (mounts without
      // atomic rename degrade to copy-then-delete): tmp, when present, is
      // always a COMPLETELY written manifest — so a truncated/missing
      // final file recovers from tmp instead of surfacing a parse error
      // or (worse) letting loadOrCreate silently mint an empty manifest
      // that loses the active-version pointer.
      val recovered: Option[TableManifest] =
        if (exists(name)) {
          try Some(parse(manifestPath(name)))
          catch { case _: Throwable =>
            if (Files.exists(tmp)) Some(parse(tmp))
            // tmp already consumed => the replace finished; re-read once
            else Some(parse(manifestPath(name)))
          }
        } else if (Files.exists(tmp)) Some(parse(tmp)) // crash before move
        else None
      recovered.foreach(m => manifestCache(name) = m)
      recovered
    }
  }

  /** Drop the cached entry and re-read from disk — for long-lived probe
    * catalogs observing writes made through OTHER catalog instances.
    */
  def refresh(name: String): Option[TableManifest] = synchronized {
    manifestCache -= name
    load(name)
  }

  def loadOrCreate(name: String): TableManifest =
    load(name).getOrElse {
      // mint under the table lock, double-checked: an unlocked save here
      // could clobber a manifest another writer committed between our
      // load miss and our write
      withTableLock(name) {
        synchronized { manifestCache -= name }
        load(name).getOrElse {
          val m = TableManifest(name, None, Nil, Nil, TableMeta())
          save(m); m
        }
      }
    }

  def save(m: TableManifest): Unit = synchronized {
    Files.createDirectories(tableDir(m.name))
    val tmp = tableDir(m.name).resolve("manifest.json.tmp")
    Files.write(tmp, Serialization.write(m).getBytes(StandardCharsets.UTF_8))
    try
      Files.move(tmp, manifestPath(m.name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      // Same fallback as State.persist: filesystems that can't rename
      // atomically (network/overlay mounts) get a best-effort replace
      // rather than failing every manifest write. COPY-then-delete (not
      // move): if the copy dies mid-write, tmp survives as a complete
      // manifest and load() recovers from it — a degraded move could
      // consume tmp and strand a truncated final file.
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.copy(tmp, manifestPath(m.name),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Files.delete(tmp)
    }
    manifestCache(m.name) = m
  }

  /** Mint a new (not-yet-active) version with the physical layout
    * `buckets` ([[VersionInfo.buckets]]); returns (manifest, versionId).
    */
  def createVersion(name: String, buckets: Option[Int] = None): (TableManifest, String) = {
    // mutate's return is OUR written manifest (a local immutable value),
    // so versions.last is the version this call minted — no outer lock
    val m2 = mutate(name) { m =>
      val vid = f"v${m.versionCounter + 1}%06d"
      Files.createDirectories(versionDir(name, vid))
      m.copy(
        versions = m.versions :+ VersionInfo(vid, System.currentTimeMillis(), buckets = buckets),
        versionCounter = m.versionCounter + 1)
    }
    (m2, m2.versions.last.id)
  }

  /** Re-record the layout of a version that holds no data file yet (one
    * minted by a reset, or whose first write crashed), taken by its first
    * write under the table lock: no file can disagree with the record.
    */
  def setVersionBuckets(name: String, vid: String, buckets: Option[Int]): TableManifest =
    mutate(name) { m =>
      m.copy(versions = m.versions.map { v =>
        if (v.id != vid) v
        else {
          require(v.files.isEmpty,
            s"table $name: version $vid already holds data; its layout is fixed")
          v.copy(buckets = buckets)
        }
      })
    }

  /** Swap the active pointer and append the triggering event; then apply
    * the table's retention policy to the now-superseded versions.
    * `trigger = false` records the event in the history window but does
    * NOT bump `eventCounter` (the downstream-trigger signal) — for
    * content-neutral pointer swaps like compaction, where re-running
    * consumers would reprocess identical rows.
    */
  def setActive(name: String, vid: Option[String], eventKind: String,
      trigger: Boolean = true): TableManifest =
    withTableLock(name) {
      mutate(name) { m =>
        val now = System.currentTimeMillis()
        // stamp the outgoing active version: its retention clock starts here
        val versions = m.versions.map { v =>
          if (m.activeVersion.contains(v.id) && !vid.contains(v.id) &&
              v.supersededAt.isEmpty) v.copy(supersededAt = Some(now))
          else v
        }
        m.copy(
          activeVersion = vid,
          versions = versions,
          events = (m.events :+ TableEvent(eventKind, vid.getOrElse(""), now))
            .takeRight(TableCatalog.MaxEvents),
          eventCounter = m.eventCounter + (if (trigger) 1 else 0))
      }
      load(name).get.meta.retentionMillis.foreach(gc(name, _))
      load(name).get
    }

  def recordEvent(name: String, kind: String): TableManifest = mutate(name) { m =>
    m.copy(
      events = (m.events :+ TableEvent(kind, m.activeVersion.getOrElse(""),
        System.currentTimeMillis())).takeRight(TableCatalog.MaxEvents),
      eventCounter = m.eventCounter + 1)
  }

  /** Register version `vid`'s files, each with its footer stamp, and the
    * version's merged schema in one mutation: the commit point of every
    * write. No reader sees a file before it is listed here, and every
    * reader takes the files and the stamps from the same manifest
    * ([[scan]], `Table.recordCount`, `GraftTableSource`'s poll).
    */
  def registerFiles(name: String, vid: String, files: Seq[DataFile],
      schema: Option[StructType]): TableManifest =
    mutate(name) { m =>
      m.copy(versions = m.versions.map(v =>
        if (v.id == vid) v.copy(files = files.toList, schema = schema.map(_.json)) else v))
    }

  /** Delete data files (paths relative to the table dir), each with its
    * `.crc` file.
    */
  private[graft] def deleteFiles(name: String, paths: Iterable[String]): Unit =
    paths.map(tableDir(name).resolve).foreach { p =>
      Files.deleteIfExists(p)
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }

  def updateMeta(name: String)(f: TableMeta => TableMeta): TableManifest =
    mutate(name)(m => m.copy(meta = f(m.meta)))

  /** Reserve `n` monotonic ids; returns the first reserved value
    * (exclusive high-water-mark semantics — reference node.py:291-294).
    * Under the table lock, two engines on one catalog always get DISJOINT
    * ranges.
    */
  def reserveIds(name: String, n: Long): Long = {
    val m = mutate(name)(m =>
      m.copy(meta = m.meta.copy(highWaterMark = m.meta.highWaterMark + n)))
    m.meta.highWaterMark - n
  }

  /** A read lease on one version: its presence (unexpired) makes [[gc]]
    * skip that version, so a lazy time-travel scan cannot have its files
    * swept mid-job by a concurrent writer's retention pass. Crash-safe by
    * construction: a reader that dies without releasing just leaves a
    * file that expires on its own and is swept by the next gc.
    */
  case class ReadLease(vid: String, path: Path) {
    def release(): Unit = Files.deleteIfExists(path)
  }

  private def leaseDir(name: String): Path = tableDir(name).resolve("leases")

  /** Take a TTL'd read lease on a version (multi-reader: each call mints
    * its own lease file; gc honors the union). Long jobs should size
    * `ttlMillis` above their expected runtime or re-acquire.
    *
    * Acquired UNDER the table lock: gc lists the lease dir inside its own
    * locked sweep, so serializing acquisition on the same lock closes the
    * TOCTOU where a sweep that already listed leases deletes a version a
    * reader leased a microsecond later. After this returns, either the
    * sweep saw the lease (version kept) or the sweep finished first (and
    * the caller's existence check fails loudly).
    */
  def acquireReadLease(name: String, vid: String,
      ttlMillis: Long = TableCatalog.DefaultLeaseTtlMillis): ReadLease =
    withTableLock(name) {
      // sweep expired leases on every acquisition (already under the table
      // lock, and the dir stays small because of it): a table whose
      // retention gc never runs must not accumulate crashed readers'
      // lease files unboundedly
      leasedVids(name)
      Files.createDirectories(leaseDir(name))
      val p = leaseDir(name).resolve(
        s"$vid.${java.util.UUID.randomUUID().toString.take(8)}.lease")
      Files.write(p, (System.currentTimeMillis() + ttlMillis).toString
        .getBytes(StandardCharsets.UTF_8))
      ReadLease(vid, p)
    }

  /** Version ids currently protected by an unexpired lease; expired lease
    * files are swept as a side effect (called under the table lock).
    */
  private def leasedVids(name: String): Set[String] = {
    val dir = leaseDir(name)
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val now = System.currentTimeMillis()
      val files = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        files.iterator().asScala.filter(_.getFileName.toString.endsWith(".lease"))
          .flatMap { p =>
            val vid = p.getFileName.toString.takeWhile(_ != '.')
            val expiry = try {
              new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong
            } catch { case _: Exception => Long.MaxValue } // unreadable = held
            if (expiry >= now) Some(vid)
            else { Files.deleteIfExists(p); None }
          }.toSet
      } finally files.close()
    }
  }

  /** Retention sweep: drop the non-active versions whose retention age
    * exceeds `keepMillis` (reference node.py:403-404 "garbage collected
    * according to the table's retention policy"), then free the files no
    * remaining version lists. Age counts from `supersededAt` when the
    * version was once active; a version that was never activated (e.g. an
    * abandoned createNewVersion write) ages from `createdAt` — writers that
    * may outlive the retention window should activate promptly or use a
    * longer retention. Versions under an unexpired [[ReadLease]] are
    * skipped (their manifest entry stays, so a later sweep retries once
    * the lease lapses) — the multi-writer answer to "a sweep can race an
    * in-flight lazy read".
    *
    * Files, not dirs, are what a sweep frees: a parquet file (with its
    * `.crc`) is deleted only when no remaining or leased version lists it,
    * so an upsert's files stay while a later version references them. A
    * swept version's dir goes once nothing under it is listed. Every write
    * holds the table lock from its listing of the version dir before the
    * write to [[registerFiles]], and so does this sweep: a parquet file no
    * version lists is then a failed write's, and is deleted too. The
    * manifest is saved before any file goes, so a crash mid-sweep leaves
    * only unlisted files, which the next sweep frees. Returns the number
    * of versions dropped.
    */
  def gc(name: String, keepMillis: Long): Int = withTableLock(name) {
    var removed = 0
    val m = mutate(name) { m =>
      val cutoff = System.currentTimeMillis() - keepMillis
      val leased = leasedVids(name)
      val (dead, live) = m.versions.partition(v =>
        !m.activeVersion.contains(v.id) && !leased.contains(v.id) &&
          v.supersededAt.getOrElse(v.createdAt) <= cutoff)
      removed = dead.size
      m.copy(versions = live)
    }
    val listed = m.versions.flatMap(_.files.map(_.path)).toSet
    val dirs = Option(tableDir(name).toFile.listFiles((f: java.io.File) =>
      f.isDirectory && f.getName.matches("v\\d+"))).getOrElse(Array.empty[java.io.File])
    dirs.foreach { d =>
      val vid = d.getName
      deleteFiles(name, filesOnDisk(name, vid).map(_.path).filterNot(listed))
      if (!m.versions.exists(_.id == vid) && !listed.exists(_.startsWith(s"$vid/")))
        Files.walk(d.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
    }
    removed
  }
}

object TableCatalog {
  /** Name prefix of a bucketed version's `__bucket=K` dirs. */
  private val BucketPrefix = "__bucket="

  /** Event-history window kept in the manifest; `eventCounter` carries the
    * all-time total, so trimming never affects downstream triggering.
    */
  val MaxEvents = 1000

  /** Default read-lease TTL (30 min): long enough for an interactive
    * time-travel scan, short enough that a crashed reader's garbage
    * version is reclaimed the same hour. Batch jobs pass their own TTL.
    */
  val DefaultLeaseTtlMillis: Long = 30L * 60 * 1000

  /** JVM-wide gates per lock-file path: `FileChannel.lock` is
    * process-scoped (a second lock attempt from the SAME process throws
    * OverlappingFileLockException instead of blocking), so in-process
    * writers — including separate TableCatalog instances on one dir —
    * serialize here and cross-process writers on the OS lock.
    */
  private val jvmGates =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Lock-file paths held by the current thread (reentrancy). */
  private val heldLocks = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue(): java.util.HashSet[String] =
      new java.util.HashSet[String]()
  }
}
