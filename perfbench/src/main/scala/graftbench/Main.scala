package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def geomean(xs: collection.Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)
}

/** A run's end-to-end figures: set-up time, the median and the geometric
  * mean of the operation times, and the peak of cached block bytes during
  * the measured operations. */
final case class RunOutcome(setupS: Double, opS: Double, opGeomeanS: Double, cachePeakMb: Double)

/** State shared by a run: settings, operation accounting (attempted/failed),
  * reported metrics, and the traced run's probe and tracer. */
final class RunContext(
    val seconds: Double,
    val trace: Boolean,
    val smoke: Boolean,
    val probe: TaskProbe,
    val tracer: Tracer,
    val sessionStartS: Double,
    val benchDir: Path,
    val workDir: Path,
    val defaultSeed: Boolean) {

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val reports = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]

  /** One operation: it fails if it throws or its check returns an error. */
  def attempt(f: => Option[String]): Unit = {
    attempted += 1
    try f.foreach(fail)
    catch { case e: Throwable => fail(e.toString) }
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"[perfbench] operation failed: $msg")
  }

  def report(name: String, value: Double, unit: String): Unit = reports(name) = (value, unit)
  def layer(name: String, value: Double): Unit = layers(name) = value

  private def dataFile(name: String): Path = benchDir.resolve("expected").resolve(name)

  /** Recorded (fetched, frontier) per round for the default seed; empty for
    * any other seed, whose runs are held to the invariants only. */
  def expectedCrawl(workload: String): Map[Int, (Long, Long)] =
    if (!defaultSeed) Map.empty
    else {
      val key = if (smoke) s"$workload-smoke" else workload
      Files.readAllLines(dataFile("crawl_rounds.tsv")).asScala.toSeq
        .filterNot(l => l.startsWith("#") || l.isBlank).map(_.split("\t"))
        .collect { case Array(`key`, r, f, n) => r.toInt -> (f.toLong, n.toLong) }.toMap
    }

  /** Recorded order-independent result digest per query for a corpus. */
  def expectedDigests(corpus: String): Map[String, String] = {
    val p = dataFile(s"digests_$corpus.tsv")
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.toSeq.filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split("\t")).collect { case Array(q, d) => q -> d }.toMap
  }
}

/** Benchmark harness entry point. Prints nothing on stdout itself: the run's
  * result goes to the `--result` file as JSON and `run.py` prints it. */
object Main {
  val Cores = 4

  /** Size of Spark's cache of compiled generated classes. A loaded round
    * generates about 165 distinct classes and a query sweep about 210, more
    * than Spark's default of 100 entries, so at the default every round
    * (sweep) evicts and recompiles about 100 (150) classes. Each recompiled
    * class starts again in the JVM's interpreter, so rounds kept getting
    * faster for more than six replays and varied with how fast the JIT
    * caught up. With every class cached, a run measures the engine's code
    * rather than recompilation, and settles after a few operations. */
  val CodegenCacheEntries = 1000

  private def arg(args: Array[String], key: String): Option[String] = {
    val i = args.indexOf(key)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** CPU steal and total jiffies from the aggregate line of /proc/stat. */
  private def cpuJiffies(): Option[(Long, Long)] = {
    val p = Paths.get("/proc/stat")
    if (!Files.isReadable(p)) None
    else Files.readAllLines(p).asScala.find(_.startsWith("cpu ")).map { l =>
      val v = l.trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    }
  }

  /** Time of a fixed CPU-bound loop (median of five), a yardstick for how
    * fast this machine ran while the benchmark did. */
  private def cpuLoopMs(): Double = Stats.median((1 to 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) println()
    (System.nanoTime() - t0) / 1e6
  })

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(42L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val smoke = args.contains("--smoke")
    val benchDir = Paths.get(arg(args, "--bench-dir").getOrElse("perfbench"))
    val workDir = Paths.get(arg(args, "--work-dir").getOrElse(sys.error("--work-dir required")))
    val resultPath = Paths.get(arg(args, "--result").getOrElse(sys.error("--result required")))
    Files.createDirectories(workDir)

    GcProbe.install()
    val noiseLoopStart = cpuLoopMs()
    val jiffies0 = cpuJiffies()

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    // JVM start to a usable session, as the JVM itself records it
    val sessionStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val probe = new TaskProbe
    spark.sparkContext.addSparkListener(probe)
    val ctx = new RunContext(seconds, trace, smoke, probe, new Tracer(Some(spark.sparkContext)),
      sessionStartS, benchDir, workDir, defaultSeed = seed == 42L)

    val outcome = workload match {
      case "loaded_round" | "incremental_crawl" =>
        new CrawlBench(spark, CrawlSpec(workload, seed, Cores, smoke), workDir, ctx).run()
      case "corpus_queries" =>
        new CorpusBench(spark, benchDir, seed, ctx, arg(args, "--dump")).run()
      case other => sys.error(s"unknown workload $other")
    }
    if (ctx.trace) ctx.tracer.write(workDir.resolve("spans.jsonl"))
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
    System.err.println(f"[perfbench] session ready at $sessionStartS%.2f s, workload done at ${uptime.getUptime / 1e3}%.2f s")
    spark.stop()

    val steal = for ((s0, t0) <- jiffies0; (s1, t1) <- cpuJiffies())
      yield if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0
    ctx.report("heap_peak_mb", GcProbe.heapPeakMb, "MB")
    ctx.report("setup_s", outcome.setupS, "s")
    ctx.report("error_rate", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
    ctx.report("noise.steal_frac", steal.getOrElse(0.0), "ratio")
    ctx.report("noise.cpu_loop_ms", noiseLoopStart, "ms")
    ctx.report("noise.cpu_loop_end_ms", cpuLoopMs(), "ms")

    val e2e = Seq(
      "op_s" -> (outcome.opS, "s"),
      "op_geomean_s" -> (outcome.opGeomeanS, "s"),
      "cache_peak_mb" -> (outcome.cachePeakMb, "MB"),
      "setup_s" -> (outcome.setupS, "s"))
    def obj(kv: Seq[(String, (Double, String))]): String = kv.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val layerUnits = ctx.layers.toSeq.map { case (k, v) => k -> (v, Units.of(k)) }
    val json =
      s"""{"workload":"$workload","seed":$seed,"trace":${if (trace) 1 else 0},""" +
      s""""correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""end_to_end":${obj(e2e)},"report":${obj(ctx.reports.toSeq)},""" +
      s""""per_layer":${obj(layerUnits)},""" +
      s""""failures":${ctx.failures.map(f => "\"" + f.replaceAll("[\\\\\"\\p{Cntrl}]", " ") + "\"").mkString("[", ",", "]")}}"""
    Files.write(resultPath, json.getBytes("UTF-8"))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.stripTrailingZeros.toPlainString
}

/** Unit of a per-layer metric, from its name's suffix. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("_ratio") || name.endsWith("_skew") || name.endsWith("_frac")) "ratio"
    else "count"
}
