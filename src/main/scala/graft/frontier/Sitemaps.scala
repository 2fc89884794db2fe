package graft.frontier

import org.apache.spark.sql.Dataset

import graft.fetch.Fetcher

/** Sitemap processing (reference util/SitemapProcessor.java: an optional
  * bin/crawl stage that reads hosts from the CrawlDb/HostDb, fetches each
  * host's sitemaps as advertised by robots.txt, and bulk-injects the listed
  * URLs into the CrawlDb).
  *
  * Spark realization: distinct hosts off the frontier → partition-local
  * sitemap discovery (robots `Sitemap:` lines via the fetcher's robots
  * cache) and fetch → link-span extraction → the configured URL chain; the
  * caller (`Crawl.processSitemaps`) injects the URLs as seed lines (known
  * URLs keep their crawl state, new URLs enter as db_unfetched with the
  * configured sitemap score). Everything between the two shuffles (host
  * distinct, inject co-group) is partition-local.
  */
object Sitemaps {

  /** URLs listed by the sitemaps of the given hosts (through the configured
    * URL chain, distinct); inject them with `chained = true`. */
  def discover(hosts: Dataset[String], fetcher: Fetcher, cfg: CrawlConfig): Dataset[String] = {
    val spark = hosts.sparkSession
    import spark.implicits._
    hosts.mapPartitions { it =>
      it.flatMap { host =>
        fetcher.robotsRules(host).toSeq.flatMap(_.sitemaps).flatMap { sm =>
          val resp = fetcher.fetch(sm)
          // raw-content protocols go through the mime registry (sitemap XML
          // → <loc> link spans via XmlDocParser); span protocols serve
          // link spans directly
          val spans =
            if (resp.code != "SUCCESS") Seq.empty
            else if (resp.content != null)
              graft.parse.DocParsers.parseSpans(resp.contentType, sm, resp.content, cfg)
            else if (resp.doc != null) resp.doc.spans
            else Seq.empty
          spans.filter(s => s.kind == "link" && s.media_ref != null)
            .flatMap(s => Option(cfg.urlChain(s.media_ref)))
        }
      }
    }.distinct()
  }
}
