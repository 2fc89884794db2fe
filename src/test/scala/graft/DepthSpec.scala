package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Crawl
import graft.fetch.{Fetcher, ProtocolResponse, Robots}
import graft.frontier.CrawlConfig
import graft.schema.{CrawlStatus, Doc, Span}

/** One-host link web serving pre-parsed spans: url -> outlink targets. */
private case class LinkWeb(links: Map[String, Seq[String]]) extends Fetcher {
  override def fetch(url: String): ProtocolResponse = {
    val targets = links.getOrElse(url, Seq.empty)
    val spans = Span("text", s"page at $url", null, 0) +:
      targets.zipWithIndex.map { case (t, i) => Span("link", s"l$i", t, i + 1) }
    ProtocolResponse("SUCCESS", null, Doc(url, spans), "text/html", 1)
  }
  override def robotsRules(host: String): Option[Robots.RobotRules] = Some(Robots.AllowAll)
}

/** scoring-depth (reference src/plugin/scoring-depth DepthScoringFilter):
  * seeds at depth 1, outlinks parent+1 (min over parents), pages AT
  * scoringDepthMax have their outlinks suppressed — so a maxDepth crawl can
  * NEVER fetch (or even discover) anything deeper. */
class DepthSpec extends AnyFunSuite with SparkSpecBase {

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft-depth").toString

  private val S = "http://d.fix.test/"
  private val A = "http://d.fix.test/a"
  private val B = "http://d.fix.test/b"
  private val C = "http://d.fix.test/c"

  private def depths(crawl: Crawl): Map[String, (Byte, Option[String])] =
    crawl.frontier.collect().map { r =>
      r.getAs[String]("url") ->
        ((r.getAs[Byte]("status"), Option(r.getAs[Map[String, String]]("metadata")).flatMap(_.get("_depth_"))))
    }.toMap

  test("maxDepth=2: depth-3 URLs are never discovered, let alone fetched") {
    val web = LinkWeb(Map(S -> Seq(A), A -> Seq(B), B -> Seq(C)))
    val cfg = CrawlConfig(serverDelayMs = 0, fetchLatencyMs = 0, signer = "md5",
      scoringDepthMax = 2)
    val crawl = Crawl(spark, tmp(), cfg, web)
    import spark.implicits._
    crawl.inject(Seq(S).toDS())
    crawl.round(); crawl.round(); crawl.round()
    val f = depths(crawl)
    assert(f(S)._1 == CrawlStatus.DB_FETCHED && f(S)._2.contains("1"))
    assert(f(A)._1 == CrawlStatus.DB_FETCHED && f(A)._2.contains("2"),
      "depth-2 page IS fetched (the cap is inclusive)")
    assert(!f.contains(B), s"depth-3 URL must never be discovered: ${f.keys}")
    assert(!f.contains(C))
  }

  test("maxDepth=3: chain walks one level deeper, min-depth wins on multi-path") {
    // S links A and B directly; A also links B: B = min(2, 3) = 2
    val web = LinkWeb(Map(S -> Seq(A, B), A -> Seq(B), B -> Seq(C), C -> Seq.empty))
    val cfg = CrawlConfig(serverDelayMs = 0, fetchLatencyMs = 0, signer = "md5",
      scoringDepthMax = 3)
    val crawl = Crawl(spark, tmp(), cfg, web)
    import spark.implicits._
    crawl.inject(Seq(S).toDS())
    crawl.round(); crawl.round(); crawl.round(); crawl.round()
    val f = depths(crawl)
    assert(f(A)._2.contains("2"))
    assert(f(B)._2.contains("2"), s"min over parents: got ${f(B)}")
    assert(f(C)._2.contains("3"))
    assert(f(C)._1 == CrawlStatus.DB_FETCHED, "depth-3 fetched when max=3")
    // C's outlinks would be depth 4: nothing new appears
    assert(f.size == 4, s"frontier is exactly S,A,B,C: ${f.keys}")
  }

  test("per-seed depth override and disabled default") {
    // a seed injected at _depth_=2 with max 2: fetched, outlinks suppressed
    val web = LinkWeb(Map(S -> Seq(A)))
    val cfg = CrawlConfig(serverDelayMs = 0, fetchLatencyMs = 0, signer = "md5",
      scoringDepthMax = 2)
    val crawl = Crawl(spark, tmp(), cfg, web)
    import spark.implicits._
    crawl.inject(Seq(s"$S\t_depth_=2").toDS())
    crawl.round(); crawl.round()
    val f = depths(crawl)
    assert(f(S)._2.contains("2"))
    assert(!f.contains(A), "override seed sits AT the cap: no outlinks")

    // disabled (default 0): no depth metadata anywhere, crawl unrestricted
    val crawl2 = Crawl(spark, tmp(),
      CrawlConfig(serverDelayMs = 0, fetchLatencyMs = 0, signer = "md5"), web)
    crawl2.inject(Seq(S).toDS())
    crawl2.round(); crawl2.round()
    val f2 = depths(crawl2)
    assert(f2.contains(A))
    assert(f2.values.forall(_._2.isEmpty), "no _depth_ stamps when disabled")
  }
}
