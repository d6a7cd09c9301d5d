package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, fixture: String, tmp: String, out: String, spans: String)

/** What one run measured and checked; written as JSON for `run.py`. */
final class Result {
  var attempted = 0
  var failed = 0
  private val notes = mutable.ArrayBuffer.empty[String]
  private var firstOpMs = -1L
  var workS = 0.0
  var opSeconds: Seq[Double] = Nil
  var passes = 0
  /** Battery entries whose warm-pass output was written for the oracle. */
  var dumped: Seq[String] = Nil
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var spans: Seq[Span] = Nil
  var heapLiveMb = 0.0

  /** Heap still reachable after full collections: the state a run retains
    * (memoized frames, cached blocks, catalog handles).
    */
  def markHeapLive(): Unit = {
    System.gc()
    System.gc()
    heapLiveMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def note(m: String): Unit = { notes += m; System.err.println(s"[perfbench] $m") }
  def markFirstOp(): Unit = if (firstOpMs < 0) firstOpMs = System.currentTimeMillis()

  def json(trace: Boolean): String = {
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(("work_s", workS, "s"), ("op_p50_s", Stats.median(opSeconds), "s"))
      else {
        layers("op.count") = opSeconds.size.toDouble
        layers("fail_frac") = failed.toDouble / math.max(1, attempted)
        layers("jvm.peak_rss_mb") = Counters.peakRssMb
        layers("jvm.heap_live_mb") = heapLiveMb
        Layers.units.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      }
    Seq(
      "\"attempted\":" + attempted,
      "\"failed\":" + failed,
      "\"first_op_ms\":" + firstOpMs,
      "\"notes\":" + notes.map(Json.str).mkString("[", ",", "]"),
      "\"dumped\":" + dumped.map(Json.str).mkString("[", ",", "]"),
      "\"passes\":" + passes,
      "\"metrics\":" + metrics.map { case (k, v, u) =>
        Json.str(k) + ":{\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(u) + "}"
      }.mkString("{", ",", "}")
    ).mkString("{", ",", "}")
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

/** Entry point: `Main --limit-s L --workload W --seed N --seconds S
  * --trace 0|1 --fixture DIR --tmp DIR --out FILE --spans FILE`, or
  * `Main --limit-s L selftest`. The JVM halts itself after L seconds.
  */
object Main {
  def main(args: Array[String]): Unit = {
    args.sliding(2).collectFirst { case Array("--limit-s", v) => v.toDouble }
      .foreach(watchdog)
    if (args.contains("selftest")) { SelfTest.run(); return }
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv.getOrElse("fixture", ""), kv("tmp"), kv("out"),
      kv.getOrElse("spans", ""))
    val spark = session(cfg)
    val out = new Result
    try cfg.workload match {
      case "battery" => Battery.run(spark, cfg, out)
      case "app_trickle" => App.run(spark, cfg, App.trickle, out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally spark.stop()
    if (cfg.trace && cfg.spans.nonEmpty) writeSpans(new File(cfg.spans), out.spans)
    Files.write(new File(cfg.out).toPath, out.json(cfg.trace).getBytes("UTF-8"))
  }

  /** Halts the JVM `seconds` from now, so a run whose parent died cannot
    * outlive it for long.
    */
  private def watchdog(seconds: Double): Unit = {
    val t = new Thread(() => {
      Thread.sleep((seconds * 1000).toLong)
      System.err.println(s"[perfbench] run exceeded $seconds s; halting")
      Runtime.getRuntime.halt(124)
    }, "perfbench-watchdog")
    t.setDaemon(true)
    t.start()
  }

  /** The session every workload runs on: four local cores, four shuffle
    * partitions, no UI, UTC, and every scratch path inside the run's own
    * temp dir.
    */
  def session(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(cfg.tmp, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(cfg.tmp, "warehouse").getPath)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    f.getParentFile.mkdirs()
    val lines = spans.map { s =>
      Seq("\"id\":" + s.id, "\"parent\":" + s.parent, "\"name\":" + Json.str(s.name),
        "\"op\":" + Json.str(s.op), "\"start_ms\":" + Json.num(s.startMs),
        "\"end_ms\":" + Json.num(s.endMs)).mkString("{", ",", "}")
    }
    Files.write(f.toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
