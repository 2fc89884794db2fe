package graft.tools

import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.CrawlConfig

/** Scaling-efficiency evidence (BASELINE.md protocol): the same loaded crawl
  * round, same input snapshot, SAME physical plan (fixed partition counts),
  * at N = local[2] vs 4N = local[8] cores.
  *
  * Each level runs in its OWN JVM with GC threads pinned proportional to its
  * cores (GRAFT_JAVA_OPTS=-XX:ParallelGCThreads=N): in a shared JVM the
  * host's 32 GC threads subsidize the small leg and understate scaling — on
  * a real cluster every node GCs with its own cores. Invoke per level:
  *
  *   GRAFT_JAVA_OPTS="-XX:ParallelGCThreads=2" sbt "runMain
  *     graft.tools.ScalingBench 2 2 /dev/shm/graft-scaling"
  *   GRAFT_JAVA_OPTS="-XX:ParallelGCThreads=8" sbt "runMain
  *     graft.tools.ScalingBench 8 2 /dev/shm/graft-scaling"
  *
  * then efficiency = (best urls/sec @ 8 / best urls/sec @ 2) / 4; interleave
  * invocations and take best-of-K per level (this sandbox shows CPU-steal
  * bursts inflating task time up to 6×).
  *
  * Why 2 vs 8, not 8 vs 32: measured pure-arithmetic thread scaling here is
  * 8→32 = 3.10× (0.776 hardware ceiling — unusable), 2→8 = 3.64–4.0×.
  * Shuffle + tables live on tmpfs: the sandbox's single ~300 MB/s disk is a
  * shared constant floor, unlike per-executor NVMe on a real cluster.
  */
object ScalingBench {

  val PARTITIONS = 32 // identical plan at both levels; fine-grained waves

  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.map(_.toInt).getOrElse(8)
    val repeats = args.lift(1).map(_.toInt).getOrElse(2)
    val root = args.lift(2).getOrElse("/dev/shm/graft-scaling")

    val web = SyntheticWeb(WebConfig(nHosts = 3000, pagesPerHost = 1400, hotFactor = 25))
    val cfg = CrawlConfig(topN = 4000000, maxPerHost = 2000,
      numFetchPartitions = PARTITIONS, serverDelayMs = 5000, fetchLatencyMs = 50,
      // size the URL-seen bloom for the 4.24M-URL web: the default 4.19M
      // capacity saturates and forces a full rebuild inside every measured
      // round — operators size their filters for their corpus
      bloomExpectedItems = 1L << 24)
    val spark = Harness.session(cpus, PARTITIONS)
    // the store is reused across invocations: inject only into an empty one
    val round = Harness.loadedRound(spark, web, cfg, root)
    for (_ <- 1 to repeats) {
      val stats = round.replay()
      val ups = stats.fetchedPages / (stats.wallMs / 1000.0)
      println(f"RUN cpus=$cpus%2d fetched=${stats.fetchedPages} roundSec=${stats.wallMs / 1000.0}%8.2f " +
        f"urlsPerSec=$ups%9.1f " +
        stats.stageMs.map { case (k, v) => s"$k=${v}ms" }.mkString(" "))
    }
    spark.stop()
  }
}
