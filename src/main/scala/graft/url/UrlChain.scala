package graft.url

/** The configured URL chain: the one way a raw URL becomes a crawl URL (the
  * reference applies its URLNormalizers + URLFilters wherever a URL enters
  * crawl state: inject, outlinks, redirects, CrawlDbFilter, linkdb,
  * FreeGenerator). Normalize: ajax on the RAW url (the canonicalizer strips
  * fragments, so `#!` must be rewritten first), then Urls.canonicalize, then
  * the other normalizers in configured order; null at any stage drops the
  * URL. Accept: the default rules ([[UrlFilters.accept]]), then every
  * configured filter. A serializable value: closures capture it, and the
  * `url_canon_filter` / `url_accept` expressions hold it as a codegen
  * reference object. The empty chain is the default canonicalize + filter. */
final case class UrlChain(normalizers: Seq[UrlNormalizer], filters: Seq[UrlFilter])
    extends UrlFilter {
  private val (pre, post) = normalizers.partition(_ == AjaxNormalizer)

  /** Raw → normalized URL; null when unparseable or a normalizer drops it. */
  def normalize(raw: String): String = {
    var u = raw
    pre.foreach(n => if (u != null) u = n.normalize(u))
    u = Urls.canonicalize(u)
    post.foreach(n => if (u != null) u = n.normalize(u))
    u
  }

  /** All filters must pass (any plugin returning null drops the URL). */
  override def accept(url: String): Boolean = UrlFilters.accept(url) && filters.forall(_.accept(url))

  /** Raw → crawl URL; null = dropped. */
  def apply(raw: String): String = {
    val u = normalize(raw)
    if (u != null && accept(u)) u else null
  }
}

object UrlChain {
  val Empty: UrlChain = UrlChain(Nil, Nil)
}
