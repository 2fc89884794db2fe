package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.cli.CrawlRound
import graft.fixtures.SyntheticWeb
import graft.frontier.CrawlConfig
import graft.store.SnapshotStore

/** The one session and loaded-round fixture behind the bench, verify and dev
  * mains. `cli.Main` builds its own session: spark-submit supplies its master. */
object Harness {

  /** SPARK_GRAFT_CPUS, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Shuffle goes to tmpfs when writable: one shared disk is a constant
    * floor under every stage (BASELINE.md). */
  def session(cpus: Int, partitions: Int): SparkSession = {
    val shm = Paths.get("/dev/shm")
    val localDir =
      if (Files.isWritable(shm)) Files.createTempDirectory(shm, "graft-local").toString
      else System.getProperty("java.io.tmpdir")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.codegen.cache.maxEntries", graft.cli.Main.CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
  def session(cpus: Int): SparkSession = session(cpus, partitions = cpus)

  /** Round 1 from the reset snapshot and the warm bloom; resets after. */
  trait LoadedRound { def replay(): CrawlRound.RoundStats }

  /** Injects `web` unless the store at `root` holds a frontier, runs a
    * `topN = 20000` warm-up round (JIT, codegen, the seen bloom) and resets
    * the frontier to snapshot 0. Each replay re-commits the warm-up bloom
    * blob after that frontier, so every replay sees the same frontier and
    * bloom and none pays a bloom reconcile pass. */
  def loadedRound(spark: SparkSession, web: SyntheticWeb, cfg: CrawlConfig, root: String): LoadedRound = {
    val startTime = 1700000000000L
    val store = new SnapshotStore(root)
    val fetcher = graft.fetch.SyntheticFetcher(web, cfg.fetchLatencyMs)
    if (store.current("frontier").isEmpty) CrawlRound.inject(spark, store, web.urls(spark), cfg, startTime)
    CrawlRound.run(spark, store, fetcher, cfg.copy(topN = 20000), round = 1, startTime)
    store.resetTo("frontier", 0)
    val warmBloom = store.loadBlob("seen_bloom")
    () => {
      warmBloom.foreach(b => store.commitBlob("seen_bloom", b, 1, allowRewind = true))
      val stats = CrawlRound.run(spark, store, fetcher, cfg, round = 1, startTime)
      store.resetTo("frontier", 0)
      stats
    }
  }

  /** Seconds to run query `name` into the noop sink; a failure goes to stderr. */
  def timeQuery(spark: SparkSession, sfDir: String, name: String): Double = {
    val t0 = System.nanoTime()
    try graft.SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
    catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
    (System.nanoTime() - t0) / 1e9
  }
}
