package graft.fetch

import java.nio.file.{Files, Path, Paths}

/** file:// protocol behind the [[Fetcher]] trait — the reference's
  * protocol-file plugin (reference/src/plugin/protocol-file File.java,
  * FileResponse.java): crawl a local or mounted corpus through the SAME
  * politeness executor, parse registry, and updatedb as any HTTP crawl.
  *
  *  - regular file     → SUCCESS, bytes capped at maxContentBytes
  *                       (file.content.limit truncation), mime by extension
  *                       (the executor's content-magic sniff still outranks)
  *  - directory, "…/"  → SUCCESS, HTML listing page whose entry links the
  *                       normal HTML parse discovers (FileResponse
  *                       getDirAsHttpResponse semantics)
  *  - directory, no /  → MOVED to the slash form (FileResponse redirect:
  *                       relative listing links only resolve under the
  *                       slashed base)
  *  - missing path     → NOTFOUND; unreadable/IO error → RETRY
  *
  * No robots on the local filesystem — AllowAll (the reference's
  * RobotRulesParser returns EMPTY_RULES for protocol-file). URL filters
  * deny file:// by default, exactly like the reference's regex-urlfilter;
  * enable `UrlFilters.allowFileScheme` (GRAFT_ALLOW_FILE_SCHEME) to crawl.
  * Use serverDelayMs = 0 — there is no remote server to be polite to.
  */
case class FileFetcher(maxContentBytes: Int = 4 * 1024 * 1024) extends Fetcher {

  /** Local path of a file URL: file:///p, file://localhost/p, file:/p.
    * Percent-escapes decode (%20 → space); null when unparseable. */
  def pathOf(url: String): Path = {
    try {
      val u = new java.net.URI(url)
      if (u.getScheme != "file") return null
      val host = u.getHost
      if (host != null && host.nonEmpty && host != "localhost") return null
      val p = u.getPath
      if (p == null || p.isEmpty) null else Paths.get(p)
    } catch { case _: Exception => null }
  }

  override def fetch(url: String): ProtocolResponse = {
    val t0 = System.nanoTime()
    def latency: Long = (System.nanoTime() - t0) / 1000000
    val path = pathOf(url)
    if (path == null) return ProtocolResponse("NOTFOUND", null, null, null, latency)
    try {
      if (!Files.exists(path)) ProtocolResponse("NOTFOUND", null, null, null, latency)
      else if (Files.isDirectory(path)) {
        if (!url.endsWith("/"))
          ProtocolResponse("MOVED", url + "/", null, null, latency)
        else {
          val stream = Files.list(path) // must be closed — each leaks a directory fd
          val entries =
            try stream.toArray.map(_.asInstanceOf[Path]).sortBy(_.getFileName.toString)
            finally stream.close()
          val links = entries.map { e =>
            val name = e.getFileName.toString + (if (Files.isDirectory(e)) "/" else "")
            // href must be URL-escaped (spaces, quotes, &) or the listing
            // parse resolves wrong/no outlinks; the text node HTML-escaped
            // "./" guards names with a scheme-like first segment ("a:b")
            val href = new java.net.URI(null, null,
              if (name.contains(':')) "./" + name else name, null).getRawPath
            val label = name.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            s"""<a href="$href">$label</a>"""
          }
          val body =
            s"""<html><head><title>Index of ${path}</title></head><body>
               |${links.mkString("\n")}
               |</body></html>""".stripMargin
          ProtocolResponse("SUCCESS", null, null, "text/html", latency,
            body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      } else {
        val size = Files.size(path)
        val content =
          if (size <= maxContentBytes) Files.readAllBytes(path)
          else { // truncation guard: read only the prefix
            val in = Files.newInputStream(path)
            try in.readNBytes(maxContentBytes) finally in.close()
          }
        ProtocolResponse("SUCCESS", null, null,
          graft.url.Mime.fromUrl(url), latency, content)
      }
    } catch {
      case _: SecurityException => ProtocolResponse("GONE", null, null, null, latency)
      case scala.util.control.NonFatal(_) => ProtocolResponse("RETRY", null, null, null, latency)
    }
  }

  override def robotsRules(host: String): Option[Robots.RobotRules] = Some(Robots.AllowAll)
}
