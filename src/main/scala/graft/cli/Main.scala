package graft.cli

import org.apache.spark.sql.SparkSession

import graft.frontier.CrawlConfig

/** spark-submit entry point (the reference's bin/nutch verb dispatcher,
  * reference/src/bin/nutch + src/bin/crawl, reduced to the engine verbs):
  *
  * {{{
  * spark-submit --class graft.cli.Main graft.jar inject  <store> <seedFile>
  * spark-submit --class graft.cli.Main graft.jar crawl   <store> <rounds> [topN]
  * spark-submit --class graft.cli.Main graft.jar stats   <store>
  * spark-submit --class graft.cli.Main graft.jar topn    <store> <n>
  * spark-submit --class graft.cli.Main graft.jar throughput <store>
  * spark-submit --class graft.cli.Main graft.jar warc    <store> <round>
  * spark-submit --class graft.cli.Main graft.jar cdx     <store> <round>
  * spark-submit --class graft.cli.Main graft.jar importarc <store> <arcPath>
  * spark-submit --class graft.cli.Main graft.jar sitemaps <store>
  * }}}
  *
  * On a real cluster the session comes from spark-submit (master/executors
  * from the submit conf); `--fetcher synthetic` (the default here) crawls
  * the deterministic fixture web — a production deployment supplies its
  * protocol stack by instantiating [[Crawl]] with its own
  * [[graft.fetch.Fetcher]] (the one extension point this CLI cannot guess).
  */
object Main {

  /** Spark's generated-class cache size (`spark.sql.codegen.cache.maxEntries`,
    * default 100). A crawl round generates more distinct classes than 100,
    * so at the default every round recompiles about 100 of them and runs
    * them interpreted again while the JIT catches up. */
  val CodegenCacheEntries = 1000

  def main(args: Array[String]): Unit = {
    if (args.length < 2) { usage(); sys.exit(2) }
    val verb = args(0)
    val storeRoot = args(1)
    // per-verb arity: verbs with a required third operand fail with the usage
    // message, not an ArrayIndexOutOfBoundsException
    def arg2(what: String): String = args.lift(2).getOrElse {
      System.err.println(s"$verb: missing <$what> operand"); usage(); sys.exit(2)
    }
    // master comes from spark-submit on a cluster; default to local[*] so
    // the CLI also runs standalone (sbt runMain / java -cp)
    val builder = SparkSession.builder()
      .appName(s"graft-$verb")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(sys.env.getOrElse("GRAFT_MASTER", "local[*]")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    val web = graft.fixtures.SyntheticWeb(graft.fixtures.WebConfig(
      nHosts = sys.env.getOrElse("GRAFT_WEB_HOSTS", "1000").toInt,
      pagesPerHost = sys.env.getOrElse("GRAFT_WEB_PAGES", "100").toInt))
    val cfg0 = CrawlConfig(
      topN = args.lift(3).map(_.toLong)
        .orElse(sys.env.get("GRAFT_TOPN").map(_.toLong)).getOrElse(50000L))
    // GRAFT_FETCHER=http: the real java.net.http protocol stack (politeness
    // waits become real sleeps); default stays the deterministic fixture web
    val (cfg, fetcher) = sys.env.getOrElse("GRAFT_FETCHER", "synthetic") match {
      case "http" => (cfg0.copy(realClock = true),
        graft.fetch.HttpFetcher(
          agent = sys.env.getOrElse("GRAFT_AGENT", "graftbot/1.0 (graft crawler)")))
      case "file" =>
        // protocol-file: crawl a local/mounted corpus; no remote server to
        // be polite to, and file URLs must clear the scheme filter
        graft.url.UrlFilters.allowFileScheme = true
        (cfg0.copy(realClock = true, serverDelayMs = 0), graft.fetch.FileFetcher())
      case _ => (cfg0, graft.fetch.SyntheticFetcher(web, cfg0.fetchLatencyMs))
    }
    val crawl = Crawl(spark, storeRoot, cfg, fetcher)

    verb match {
      case "inject" =>
        val n = crawl.inject(spark.read.textFile(arg2("seedFile")))
        println(s"injected frontier size: $n")
      case "crawl" =>
        val stats = crawl.rounds(arg2("rounds").toInt)
        stats.foreach(s => println(
          s"round ${s.round}: fetched=${s.fetchedPages} frontier=${s.frontierSize} " +
          s"unfetched=${s.frontierUnfetched} wall=${s.wallMs}ms"))
      case "stats" => crawl.stats.show(100, truncate = false)
      case "topn" =>
        val n = arg2("n").toInt
        crawl.topN(n).show(n, truncate = false)
      case "throughput" => crawl.throughput.foreach(_.show(1000, truncate = false))
      case "warc" =>
        val n = crawl.exportWarc(arg2("round").toInt).map(_.count()).getOrElse(0L)
        println(s"warc records: $n")
      case "cdx" =>
        val n = crawl.exportCdx(arg2("round").toInt).map(_.count()).getOrElse(0L)
        println(s"cdx rows: $n")
      case "importarc" =>
        // one ARC container per FILE, read as RAW BYTES (a text read would
        // replace invalid UTF-8 and corrupt gzip magic / byte frames)
        import spark.implicits._
        val containers = spark.read.format("binaryFile").load(arg2("arcPath"))
          .select("content").as[Array[Byte]]
        val s = crawl.importArcBytes(containers)
        println(s"imported: fetched=${s.fetchedPages} frontier=${s.frontierSize}")
      case "sitemaps" =>
        println(s"frontier size after sitemap inject: ${crawl.processSitemaps()}")
      case other =>
        usage(); sys.exit(2)
    }
    spark.stop()
  }

  private def usage(): Unit =
    System.err.println(
      "usage: graft.cli.Main <inject|crawl|stats|topn|throughput|warc|cdx|importarc|sitemaps> <store> [args]")
}
