package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Crawl
import graft.fetch.{Fetcher, ProtocolResponse, Robots}
import graft.frontier.CrawlConfig
import graft.parse.NaiveBayes
import graft.schema.{Doc, Span}

/** Pages with controllable text + outlinks (top-level: ships in closures). */
private case class TopicWeb(pages: Map[String, (String, Seq[String])]) extends Fetcher {
  override def fetch(url: String): ProtocolResponse = {
    val (text, targets) = pages.getOrElse(url, ("", Seq.empty))
    val spans = Span("text", text, null, 0) +:
      targets.zipWithIndex.map { case (t, i) => Span("link", s"l$i", t, i + 1) }
    ProtocolResponse("SUCCESS", null, Doc(url, spans), "text/html", 1)
  }
  override def robotsRules(host: String): Option[Robots.RobotRules] = Some(Robots.AllowAll)
}

/** parsefilter-naivebayes (reference src/plugin/parsefilter-naivebayes):
  * NB relevance gate on outlink discovery — focused crawling. */
class NaiveBayesSpec extends AnyFunSuite with SparkSpecBase {

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft-nb").toString

  // Words must repeat (freq ≥ 2) to discriminate: the reference scores a
  // seen word log(freq)+1−log(N+V), so a freq-1 word contributes exactly
  // what an unseen word does (log 1 = 0) — a real quirk mirrored here.
  private val Train = Seq(
    "1\tspark catalyst tungsten shuffle partition executor",
    "1\tspark catalyst dataset dataframe codegen shuffle",
    "0\tcasino jackpot gossip fashion shoes handbag",
    "0\tcasino jackpot lottery betting odds poker")

  test("train + classify mirror the reference math (including the +1 smoothing quirk)") {
    val m = NaiveBayes.train(Train)
    assert(m.numIr == 2 && m.numR == 2)
    assert(NaiveBayes.classifyRelevant(m, "spark shuffle partition tuning"))
    assert(!NaiveBayes.classifyRelevant(m, "casino jackpot shoes sale"))
    // the quirk itself: a word seen ONCE per class scores exactly like an
    // unseen word, so an all-freq-1 text ties → default relevant
    assert(NaiveBayes.classifyRelevant(m, "lottery poker"),
      "freq-1 words are blind (log 1 = 0): tie → relevant, like the reference")
    // hand-check one word against Classify.java's formula
    val pIr = (1 - math.log(m.wordsIr.toDouble + m.vocabSize)) +
      (math.log(m.numIr.toDouble) - math.log(4.0))
    val pR = (math.log(2.0) + 1 - math.log(m.wordsR.toDouble + m.vocabSize)) +
      (math.log(m.numR.toDouble) - math.log(4.0))
    assert(NaiveBayes.classifyRelevant(m, "spark") == !(pIr > pR))
  }

  test("irrelevant page keeps only wordlist outlinks; relevant page keeps all") {
    for (columnar <- Seq(false, true)) {
      val R = "http://nb.fix.test/"          // relevant seed
      val I = "http://nb.fix.test/junk"      // irrelevant page
      val A = "http://nb.fix.test/spark-docs" // wordlist hit
      val B = "http://nb.fix.test/misc"       // no hit — pruned from I
      val C = "http://nb.fix.test/keep1"
      val D = "http://nb.fix.test/keep2"
      val web = TopicWeb(Map(
        R -> ("spark catalyst shuffle executor codegen", Seq(I, C, D)),
        I -> ("casino jackpot gossip casino jackpot shoes", Seq(A, B))))
      val cfg = CrawlConfig(serverDelayMs = 0, fetchLatencyMs = 0, signer = "md5",
        columnarUpdateDb = columnar,
        naiveBayesTrainLines = Train, naiveBayesWordlist = Seq("spark", "catalyst"))
      val crawl = Crawl(spark, tmp(), cfg, web)
      import spark.implicits._
      crawl.inject(Seq(R).toDS())
      crawl.round(); crawl.round()
      val urls = crawl.frontier.collect().map(_.getAs[String]("url")).toSet
      assert(urls.contains(C) && urls.contains(D),
        s"columnar=$columnar: relevant page keeps all outlinks")
      assert(urls.contains(A),
        s"columnar=$columnar: irrelevant page keeps the wordlist-matching outlink")
      assert(!urls.contains(B),
        s"columnar=$columnar: irrelevant page's non-matching outlink is pruned: $urls")
    }
  }
}
