package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.fetch.{Fetcher, FetchedPage, ProtocolResponse, Robots}
import graft.frontier.{CrawlConfig, FrontierTools, Inject, LinkDb, Sitemaps}
import graft.functions.{UrlAccept, UrlCanonFilter}
import graft.schema.{CrawlStatus, Doc, FrontierEntry, Span}
import graft.url._

/** One configured URL chain at every crawl site: with normalizers (ajax,
  * slash) and a deny filter configured, each site that turns a raw URL into
  * a crawl URL yields `cfg.urlChain(raw)` for every raw URL, and the chain's
  * expression evaluates the same interpreted and codegen'd. */
class UrlChainSpec extends AnyFunSuite with SparkSpecBase {
  import UrlChainSpec._

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft-urlchain").toString

  val cfg = CrawlConfig(
    extraUrlNormalizers = Seq(AjaxNormalizer, SlashNormalizer(Map("h.test" -> true))),
    extraUrlFilters = Seq(PrefixUrlFilter(Seq("http://h.test/deny"), deny = true)))

  /** raw URL → the crawl URL every site must produce (None = dropped). */
  val cases: Seq[(String, Option[String])] = Seq(
    "http://h.test/app#!state=1" -> Some("http://h.test/app/?_escaped_fragment_=state=1"), // ajax, then slash
    "HTTP://H.TEST/dir" -> Some("http://h.test/dir/"),         // canonicalize, then slash
    "http://h.test/dir2/" -> Some("http://h.test/dir2/"),
    "http://h.test/page.html" -> Some("http://h.test/page.html"), // slash leaves typed paths alone
    "http://other.test/a#frag" -> Some("http://other.test/a"),   // no slash rule for this host
    "http://h.test/deny/x" -> None,                               // configured deny filter
    "http://h.test/pic.png" -> None)                              // default filter
  val raws: Seq[String] = cases.map(_._1)
  val want: Set[String] = cases.flatMap(_._2).toSet

  private def page(links: Seq[String]): FetchedPage =
    FetchedPage(Source, Urls.hash64(Source), "h.test", CrawlStatus.FETCH_SUCCESS, "SUCCESS",
      1700000000000L, "text/html", null, null, 0, 2592000, 1f, 1,
      links.zipWithIndex.map { case (u, i) => Span("link", s"a$i", u, i) })

  test("the chain maps each case as stated") {
    for ((raw, out) <- cases) assert(Option(cfg.urlChain(raw)) == out, raw)
    // a fixed point: a stored crawl URL passes CrawlDbFilter unchanged
    for (url <- want) assert(cfg.urlChain(url) == url, url)
  }

  test("inject, parse outlinks, linkdb, sitemaps, CrawlDbFilter, FreeGenerator and url lookup agree") {
    import spark.implicits._
    val pages = spark.createDataset(Seq(page(raws)))

    val injected = raws.flatMap(Inject.parseSeedLine(_, cfg)).map(_.url).toSet
    val perLink = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    val outlinks = graft.parse.Parse.linkedUpdates(pages, cfg, 1, registerCache = perLink += _)
      .collect().map(_.url).toSet
    perLink.foreach(_.unpersist())
    val linkdb = LinkDb.invert(pages, cfg).select("url").as[String].collect().toSet
    val sitemap = Sitemaps.discover(Seq("h.test").toDS(), SitemapFetcher(raws), cfg).collect().toSet
    val free = FrontierTools.freeGenerate(raws.toDS(), cfg, 1700000000000L).collect().map(_.url).toSet

    // CrawlDbFilter over a frontier still holding the raw URLs
    val root = tmp()
    val store = new graft.store.SnapshotStore(root)
    store.commit("frontier", raws.map(entry).toDS().toDF(), 1)
    val crawl = graft.cli.Crawl(spark, root, cfg, SitemapFetcher(raws))
    crawl.filterAndNormalize(purge404 = false)
    val filtered = crawl.frontier.select("url").as[String].collect().toSet

    val sites = Seq("inject" -> injected, "parse outlinks" -> outlinks, "linkdb" -> linkdb,
      "sitemaps" -> sitemap, "filterAndNormalize" -> filtered, "freeGenerate" -> free)
    val diverging = sites.collect { case (name, got) if got != want =>
      s"$name: missing ${want -- got}, extra ${got -- want}" }
    assert(diverging.isEmpty, diverging.mkString("; "))

    // the reader's point lookup finds each stored URL by its raw form
    for ((raw, Some(url)) <- cases)
      assert(crawl.url(raw).select("url").as[String].collect().toSeq == Seq(url), raw)
  }

  test("CrawlDbFilter merges stored URLs that normalize to one URL (latest fetch wins)") {
    import spark.implicits._
    val c = CrawlConfig(extraUrlNormalizers = Seq(
      SlashNormalizer(Map("h.test" -> true)), HostAliasNormalizer(Map("www.alias.test" -> "alias.test"))))
    val db = Seq(
      entry("http://h.test/c").copy(status = CrawlStatus.DB_FETCHED, fetch_time = 5L),
      entry("http://h.test/c/").copy(fetch_time = 1L),
      entry("http://www.alias.test/p").copy(score = 2f),
      entry("http://alias.test/p").copy(score = 3f),
      entry("http://h.test/solo/")).toDS()
    val out = FrontierTools.filterAndNormalize(db, c, purge404 = false).collect()
    assert(out.map(_.url).sorted.toSeq ==
      Seq("http://alias.test/p", "http://h.test/c/", "http://h.test/solo/"))
    assert(out.map(_.url_hash).distinct.length == out.length)
    val byUrl = out.map(e => e.url -> e).toMap
    assert(byUrl("http://h.test/c/").status == CrawlStatus.DB_FETCHED && byUrl("http://h.test/c/").fetch_time == 5L)
    assert(byUrl("http://alias.test/p").score == 3f && byUrl("http://alias.test/p").host == "alias.test")
  }

  test("sitemap URLs go through the chain once (a non-idempotent rule applies once)") {
    import spark.implicits._
    val c = CrawlConfig(extraUrlNormalizers = Seq(RegexRuleNormalizer(Seq("(/p+)$" -> "$1p"))))
    assert(c.urlChain("http://s.test/p") == "http://s.test/pp" && c.urlChain("http://s.test/pp") == "http://s.test/ppp")
    val root = tmp()
    new graft.store.SnapshotStore(root).commit("frontier", Seq(entry("http://s.test/")).toDS().toDF(), 1)
    val crawl = graft.cli.Crawl(spark, root, c, SitemapFetcher(Seq("http://s.test/p")))
    crawl.processSitemaps()
    assert(crawl.frontier.select("url").as[String].collect().toSet == Set("http://s.test/", "http://s.test/pp"))
  }

  test("parse outlinks with normalizers, filters and exemptions plan no ScalaUDF") {
    import spark.implicits._
    // external links ignored except other.test, exempt: every case survives
    val c = cfg.copy(ignoreExternalLinks = true, ignoreExternalExemptions = Seq((true, "other\\.test")))
    val perLink = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    val links = graft.parse.Parse.linkedUpdates(
      spark.createDataset(Seq(page(raws :+ "http://far.test/x"))), c, 1, registerCache = perLink += _)
    val udfs = PlanAuditSpec.operators(links.queryExecution.executedPlan)
      .flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    val urls = links.collect().map(_.url).toSet
    perLink.foreach(_.unpersist())
    assert(udfs.isEmpty, s"interpreted UDFs on the outlink path: ${udfs.map(_.name)}")
    assert(urls == want, urls)
  }

  test("chain expressions: codegen ≡ interpreted; each chain is one reference object") {
    val chains = Seq(UrlChain.Empty, cfg.urlChain, UrlChain(
      Seq(AjaxNormalizer, QuerystringSortNormalizer, ProtocolNormalizer(Map("example.com" -> "https")),
        HostAliasNormalizer(Map("a.b.co.uk" -> "b.co.uk")), SlashNormalizer(Map("example.com" -> false))),
      Seq(SuffixUrlFilter(Seq(".php")), DomainUrlFilter(Set("localhost"), deny = true), ValidatorUrlFilter)))
    val strings = Gen.listOfN(500, UrlPropertySpec.garbageGen)
      .apply(Gen.Parameters.default, Seed(42L)).get :+ null
    val in = BoundReference(0, StringType, nullable = true)
    for (chain <- chains) {
      val exprs: Seq[Expression] =
        Seq(UrlCanonFilter(in, chain).replacement, UrlAccept(in, chain).replacement)
      val compiled = GenerateUnsafeProjection.generate(exprs)
      for (s <- strings) {
        val row = InternalRow(if (s == null) null else UTF8String.fromString(s))
        val out = compiled(row)
        val interpreted = exprs.map(_.eval(row))
        val codegen = Seq(if (out.isNullAt(0)) null else out.getUTF8String(0),
          if (out.isNullAt(1)) null else out.getBoolean(1))
        assert(codegen == interpreted, s"$chain on <$s>")
        if (s != null) {
          assert(Option(interpreted.head).map(_.toString) == Option(chain(s)), s"$chain on <$s>")
          assert(interpreted(1) == chain.accept(s), s"$chain on <$s>")
        }
      }
    }
    def generated(e: Expression): (String, Int) = {
      val ctx = new CodegenContext
      (e.genCode(ctx).code.toString, ctx.references.length)
    }
    // the empty chain included: one reference object, and the same code for
    // every chain (one compiled class serves them all)
    for (mk <- Seq[UrlChain => Expression](UrlCanonFilter(in, _).replacement,
        UrlAccept(in, _).replacement)) {
      val codes = chains.map(c => generated(mk(c)))
      assert(codes.forall(_._2 == 1), codes.map(_._2))
      assert(codes.map(_._1).distinct.size == 1, codes.head._1)
    }
  }
}

object UrlChainSpec {
  val Source = "http://h.test/"

  def entry(url: String): FrontierEntry =
    FrontierEntry(url, Urls.hash64(url), Urls.hostOf(url), null,
      CrawlStatus.DB_UNFETCHED, 0L, 0, 2592000, 1f, null, 0L, null, -1L, Map.empty)

  /** Every host advertises one sitemap listing `urls` as link spans. */
  final case class SitemapFetcher(urls: Seq[String]) extends Fetcher {
    override def fetch(url: String): ProtocolResponse =
      ProtocolResponse("SUCCESS", null,
        Doc(url, urls.zipWithIndex.map { case (u, i) => Span("link", "", u, i) }), "text/xml", 0)
    override def robotsRules(host: String): Option[Robots.RobotRules] =
      Some(Robots.RobotRules(Nil, None, Seq(s"http://$host/sitemap.xml")))
  }
}
