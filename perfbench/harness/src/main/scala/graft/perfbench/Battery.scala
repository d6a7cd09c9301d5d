package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.types.{DataType, StructType}

import graft.SparkEntry
import graft.queries.{DedupQueries, Q}

/** Row count plus an order-insensitive hash of every row's values. */
final case class Fingerprint(rows: Long, hash: Long)

/** The `battery` workload: the heaviest entries of the query battery at
  * four cores, covering every query family, run in timed passes after one
  * untimed warm pass over the same fixture.
  */
object Battery {
  val SharedBuilds = "a00_shared_builds"

  /** Entry prefix -> family. `a00` is the shared-memo build the dedup
    * entries consume; it runs first in every pass, as in the battery
    * bench, so each entry times against warm shared state. The rest are
    * the heaviest entries at four cores (d51, q59, q49), every open
    * carry-over candidate (q59 d36 d21 q34 d57 d32 q03 d58), the gram-join
    * dedup family (d21 d51) and the 8c/32c anti-scalers d44 d57 d58.
    */
  val families: Seq[(String, String)] =
    Seq("a00" -> "shared_builds") ++
      Seq("d21", "d36", "d51", "d58").map(_ -> "dedup") ++
      Seq("d44").map(_ -> "text") ++
      Seq("d32", "d57").map(_ -> "vector") ++
      Seq("q03", "q34", "q49", "q59").map(_ -> "relational")

  val familyNames: Seq[String] = families.map(_._2).distinct

  /** Each prefix resolved to the one battery key it names, in run order. */
  def resolve(keys: Set[String]): Seq[(String, String)] = families.map { case (p, _) =>
    if (p == "a00") (p, SharedBuilds)
    else keys.filter(_.startsWith(p + "_")).toSeq match {
      case Seq(k) => (p, k)
      case other => throw new IllegalStateException(
        s"battery prefix $p matches ${other.size} entries: ${other.mkString(",")}")
    }
  }

  private def entryFn(key: String): (SparkSession, String) => DataFrame =
    if (key == SharedBuilds) { (s, d) =>
      DedupQueries.warmSharedMemos(s, d)
      s.range(0).toDF()
    } else SparkEntry.queries(key)

  private def mix(h: Long): Long = {
    val z = h * 0x9E3779B97F4A7C15L
    z ^ (z >>> 31)
  }

  private def rowHash(r: InternalRow, types: Array[DataType]): Long = {
    var h = 42L
    var i = 0
    while (i < types.length) {
      h = Murmur3HashFunction.hash(r.get(i, types(i)), types(i), h)
      i += 1
    }
    h
  }

  /** Drains `rdd` (the whole result, every column) and fingerprints it. */
  def fingerprint(rdd: RDD[InternalRow], schema: StructType): Fingerprint = {
    val types = schema.fields.map(_.dataType)
    val parts = rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      while (it.hasNext) { n += 1; h += mix(rowHash(it.next(), types)) }
      Iterator((n, h))
    }.collect()
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  final case class Sample(pass: Int, entry: String, seconds: Double,
      fp: Option[Fingerprint], error: Option[String])

  def run(spark: SparkSession, cfg: Config, out: Result): Unit = {
    val entries = resolve(SparkEntry.queries.keySet)
    val familyOf = entries.map { case (p, k) => k -> families.toMap.apply(p) }.toMap
    val dumpDir = new File(cfg.tmp, "oracle_out")
    dumpDir.mkdirs()

    // Warm pass: same fixture, every entry written out for the DuckDB
    // oracle and fingerprinted from what it wrote.
    val warm = mutable.LinkedHashMap.empty[String, Fingerprint]
    Q.reset(spark)
    entries.foreach { case (_, key) =>
      val w0 = System.nanoTime()
      try {
        val df = entryFn(key)(spark, cfg.fixture)
        if (key == SharedBuilds) {
          df.queryExecution.toRdd.count()
          warm(key) = Fingerprint(0L, 0L)
        } else {
          val path = new File(dumpDir, key).getPath
          df.write.mode("overwrite").parquet(path)
          val back = spark.read.parquet(path)
          warm(key) = fingerprint(back.queryExecution.toRdd, back.schema)
        }
      } catch { case e: Throwable =>
        out.note(s"warm $key threw: ${firstLine(e)}")
      }
      Q.drainScratch(spark)
      System.err.println(f"[perfbench] warm $key%-32s ${(System.nanoTime() - w0) / 1e9}%.3fs")
    }
    out.dumped = entries.map(_._2).filter(_ != SharedBuilds)
    writeOracle(new File(dumpDir, "oracle_sql.json"), out.dumped)

    val trace = new Trace(cfg.trace)
    val counters = new Counters
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passSeconds = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val layerPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    // The pass count depends on --seconds alone, never on measured time,
    // so every commit is measured the same way: one pass per 10 s, at
    // least two. Traced runs make three passes, untraced, traced,
    // untraced, so the tracing overhead (traced minus untraced pass time)
    // is not confounded with a JIT that is still warming up.
    val passes = if (cfg.trace) 3 else math.max(2, math.round(cfg.seconds / 10).toInt)
    (1 to passes).foreach { pass =>
      val traced = cfg.trace && pass % 2 == 0
      Q.reset(spark)
      if (traced) { trace.clear(); counters.clear(); spark.sparkContext.addSparkListener(counters) }
      val tr = if (traced) trace else Trace.off
      val jvm0 = (Counters.gcSeconds, Counters.jitSeconds, Counters.io())
      entries.foreach { case (_, key) =>
        if (pass == 1 && samples.isEmpty) out.markFirstOp()
        val fn = entryFn(key)
        var rdd: Option[RDD[InternalRow]] = None
        val start = System.nanoTime()
        val res: Either[String, Fingerprint] =
          try tr.span("op", op = s"p$pass/$key") {
            val qe = tr.span("query.plan") {
              val qe = fn(spark, cfg.fixture).queryExecution
              qe.executedPlan
              qe
            }
            tr.span("query.exec") {
              val r = qe.toRdd
              rdd = Some(r)
              Right(fingerprint(r, qe.analyzed.schema))
            }
          } catch { case e: Throwable => Left(firstLine(e)) }
        val sec = (System.nanoTime() - start) / 1e9
        samples += Sample(pass, key, sec, res.toOption, res.left.toOption)
        System.err.println(f"[perfbench] p$pass $key%-32s $sec%.3fs")
        // Fixed housekeeping after every op, never clock-driven: release
        // query-scoped scratch and the finished query's shuffle files.
        Q.drainScratch(spark)
        try rdd.foreach(_.cleanShuffleDependencies(blocking = true))
        catch { case _: Throwable => () }
      }
      if (traced) {
        Counters.drainBus(spark)
        spark.sparkContext.removeSparkListener(counters)
        layerPasses += Layers.common(trace.all, counters, jvm0) ++
          passLayers(trace.all, familyOf)
        out.spans ++= trace.all
      }
      val passSec = samples.filter(_.pass == pass).map(_.seconds).sum
      passSeconds += ((traced, passSec))
      System.err.println(f"[perfbench] battery pass $pass traced=$traced total=$passSec%.3fs")
    }

    if (cfg.trace) out.markHeapLive()
    // Checks, outside every timed phase: each timed pass must reproduce
    // the warm pass entry for entry (the warm pass itself is settled
    // against the DuckDB oracle after the JVM exits).
    val bad = failures(samples.toSeq, warm.toMap)
    bad.foreach(out.note)
    out.attempted = samples.size
    out.failed = bad.size

    out.passes = passes
    out.opSeconds = samples.map(_.seconds).toSeq
    val byEntry = samples.groupBy(_.entry)
    out.workS = entries.map { case (_, k) =>
      val m = Stats.median(byEntry(k).map(_.seconds).toSeq)
      System.err.println(f"[perfbench] median $k%-32s $m%.3fs")
      m
    }.sum
    if (cfg.trace) {
      def median(traced: Boolean) = Stats.median(passSeconds.filter(_._1 == traced).map(_._2).toSeq)
      out.layers ++= Layers.medianOver(layerPasses.toSeq)
      out.layers("trace.overhead_s") = median(true) - median(false)
    }
  }

  /** Battery-only layer metrics for one traced pass. */
  private def passLayers(spans: Seq[Span], familyOf: Map[String, String]): Map[String, Double] = {
    val ops = spans.filter(_.name == "op")
    val byParent = spans.groupBy(_.parent)
    def kids(s: Span) = byParent.getOrElse(s.id, Nil)
    val fam = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ops.foreach { o =>
      fam(familyOf(o.op.split("/", 2)(1))) += kids(o).map(_.seconds).sum
    }
    Map(
      "query.plan_s" -> spans.filter(_.name == "query.plan").map(_.seconds).sum,
      "query.exec_s" -> spans.filter(_.name == "query.exec").map(_.seconds).sum) ++
      familyNames.map(f => s"query.${f}_s" -> fam(f))
  }

  /** One message per failed op: it threw, or its result differs from the
    * warm pass's.
    */
  def failures(samples: Seq[Sample], warm: Map[String, Fingerprint]): Seq[String] =
    samples.flatMap { s =>
      s.error.map(e => s"p${s.pass} ${s.entry} threw: $e").orElse(
        if (s.fp.isDefined && warm.get(s.entry) == s.fp) None
        else Some(s"p${s.pass} ${s.entry} fingerprint ${s.fp} != warm ${warm.get(s.entry)}"))
    }

  private def writeOracle(f: File, keys: Seq[String]): Unit = {
    val oracle = SparkEntry.oracleSql
    val body = keys.filter(oracle.contains).map(k => Json.str(k) + ":" + Json.str(oracle(k)))
      .mkString("{", ",", "}")
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
  }

  def firstLine(e: Throwable): String = String.valueOf(e).takeWhile(_ != '\n')
}
