package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.CrawlConfig
import graft.store.SnapshotStore
import graft.tools.Harness

/** The loaded-round fixture replays one round from identical state: the
  * best-of-K in `graft.Bench` and `ScalingBench` compares like with like. */
class HarnessSpec extends AnyFunSuite with SparkSpecBase {

  test("loadedRound replays the same round and leaves the frontier at snapshot 0") {
    val web = SyntheticWeb(WebConfig(nHosts = 20, pagesPerHost = 10))
    val cfg = CrawlConfig(topN = 100, maxPerHost = 10, numFetchPartitions = 2,
      serverDelayMs = 100, fetchLatencyMs = 2)
    val root = java.nio.file.Files.createTempDirectory("graft-harness").toString
    val round = Harness.loadedRound(spark, web, cfg, root)
    val store = new SnapshotStore(root)
    val runs = (1 to 2).map { _ =>
      val s = round.replay()
      assert(store.current("frontier").map(_.round).contains(0))
      (s.generated, s.fetchedPages, s.parsedDocs, s.frontierSize, s.frontierUnfetched)
    }
    assert(runs(0) == runs(1))
    assert(runs(0)._2 > 0)
  }
}
