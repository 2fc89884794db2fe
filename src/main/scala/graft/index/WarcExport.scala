package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WARC-shaped export of a fetched round (the reference's signature output,
  * reference/src/java/org/commoncrawl/util/WarcWriter.java:56-118,204-300
  * and WarcRecordWriter's per-page record triple): one row per WARC record,
  * parquet-first — the columns are exactly the WARC named fields, so a
  * downstream container writer only serializes rows; nothing re-derives.
  *
  * Per exported page:
  *  - a `response` record (payload = reconstructed HTTP response: status
  *    line + headers + the page body),
  *  - a `request` record (payload = the reconstructed HTTP request),
  *    WARC-Concurrent-To → the response record,
  *  - a `metadata` record (application/warc-fields with fetch details),
  *    WARC-Concurrent-To → the response record,
  * plus one `warcinfo` record per round; not-modified fetches become
  * `revisit` records with the identical-payload-digest profile
  * (WarcWriter.PROFILE_REVISIT_IDENTICAL_DIGEST).
  *
  * Record IDs are deterministic (urn:uuid over md5(type|url|round)) so a
  * re-export of the same round is byte-identical — a deliberate divergence
  * from the reference's random UUIDs that keeps the sink replay-safe.
  */
object WarcExport {

  val Software = "graft-crawler/1.0"
  val RevisitProfile = "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"

  /** Deterministic urn:uuid from arbitrary string columns. */
  private def recordId(parts: Column*): Column = {
    val h = md5(concat_ws("|", parts: _*))
    concat(lit("<urn:uuid:"), substring(h, 1, 8), lit("-"), substring(h, 9, 4),
      lit("-"), substring(h, 13, 4), lit("-"), substring(h, 17, 4), lit("-"),
      substring(h, 21, 12), lit(">"))
  }

  private def httpStatus: Column =
    when(col("protocol_status") === "SUCCESS", 200)
      .when(col("protocol_status") === "NOTFOUND", 404)
      .when(col("protocol_status") === "MOVED", 301)
      .when(col("protocol_status") === "TEMP_MOVED", 302)
      .when(col("protocol_status") === "NOTMODIFIED", 304)

  private def statusLine: Column =
    concat(lit("HTTP/1.1 "), httpStatus.cast("string"),
      when(httpStatus === 200, lit(" OK")).when(httpStatus === 404, lit(" Not Found"))
        .when(httpStatus === 301, lit(" Moved Permanently"))
        .when(httpStatus === 302, lit(" Found")).when(httpStatus === 304, lit(" Not Modified"))
        .otherwise(lit("")))

  /** Map one round's fetched table (+ optional parsed bodies) to WARC
    * records. `fetched` needs (url, host, protocol_status, fetch_time, mime,
    * signature, repr_url, round); `parsed` supplies bodies via (doc_id,
    * spans). Pure column expressions — the export is one narrow projection
    * per record type plus a union, no shuffle at any scale. */
  def records(fetched: DataFrame, parsed: Option[DataFrame], round: Int): DataFrame = {
    val spark = fetched.sparkSession

    val infoId = recordId(lit("warcinfo"), lit(round.toString))
    val exported0 = fetched
      .filter(col("protocol_status").isin("SUCCESS", "NOTFOUND", "MOVED", "TEMP_MOVED", "NOTMODIFIED"))
    val exported = parsed match {
      case Some(p) =>
        val bodies = p.select(col("doc_id").as("url"),
          concat_ws(" ", expr("transform(spans, s -> coalesce(s.text, s.media_ref))")).as("_body"))
        exported0.join(bodies, Seq("url"), "left_outer")
      case None => exported0.withColumn("_body", lit(null).cast("string"))
    }

    val respId = recordId(lit("response"), col("url"), lit(round.toString))
    val digest = when(col("signature").isNotNull, concat(lit("md5:"), hex(col("signature"))))
    val isRevisit = col("protocol_status") === "NOTMODIFIED"

    // ONE pass over the fetched table: each row explodes into its
    // response/request/metadata record triple (3 scans otherwise — at a
    // billion-page round that is the difference between one read and three)
    val headers = concat(statusLine, lit("\r\nContent-Type: "),
      coalesce(col("mime"), lit("application/octet-stream")),
      when(col("repr_url").isNotNull, concat(lit("\r\nLocation: "), col("repr_url")))
        .otherwise(lit("")),
      lit("\r\n\r\n"))
    val pathQ = regexp_replace(col("url"), "^https?://[^/]+", "")
    def rec(warcType: Column, rid: Column, ctype: Column, payload: Column,
            concurrentTo: Column): Column =
      struct(
        warcType.as("warc_type"),
        rid.as("record_id"),
        concurrentTo.as("concurrent_to"),
        ctype.as("content_type"),
        encode(payload, "UTF-8").as("payload"))
    val triple = array(
      // response (revisit for not-modified: headers only, no body — the
      // payload digest points at the prior capture)
      rec(when(isRevisit, lit("revisit")).otherwise(lit("response")),
        respId,
        lit("application/http; msgtype=response"),
        when(isRevisit, headers).otherwise(concat(headers, coalesce(col("_body"), lit("")))),
        lit(null).cast("string")),
      // request (reconstructed, like the reference's writeWarcRequestRecord)
      rec(lit("request"),
        recordId(lit("request"), col("url"), lit(round.toString)),
        lit("application/http; msgtype=request"),
        concat(lit("GET "), when(pathQ === "", lit("/")).otherwise(pathQ),
          lit(" HTTP/1.1\r\nHost: "), col("host"),
          lit("\r\nUser-Agent: " + Software + "\r\nAccept: */*\r\n\r\n")),
        respId),
      // metadata (application/warc-fields fetch details)
      rec(lit("metadata"),
        recordId(lit("metadata"), col("url"), lit(round.toString)),
        lit("application/warc-fields"),
        concat(lit("fetchTimeMs: "), col("fetch_time").cast("string"),
          lit("\r\nhost: "), col("host"), lit("\r\nhttp-status: "),
          httpStatus.cast("string"), lit("\r\n")),
        respId))
    val perPage = exported
      .select(col("url"), col("fetch_time"), col("mime"), httpStatus.cast("int").as("_hs"),
        digest.as("_digest"), isRevisit.as("_revisit"), explode(triple).as("r"))
      .select(
        col("r.warc_type").as("warc_type"),
        col("r.record_id").as("record_id"),
        infoId.as("warcinfo_id"),
        col("r.concurrent_to").as("concurrent_to"),
        col("url").as("target_uri"),
        col("fetch_time").as("date"),
        col("r.content_type").as("content_type"),
        col("mime").as("identified_payload_type"),
        col("_digest").as("payload_digest"),
        when(col("_revisit"), lit(RevisitProfile)).otherwise(lit(null)).cast("string").as("warc_profile"),
        col("_hs").as("http_status"),
        col("r.payload").as("payload"),
        lit(round).as("round"))

    // one warcinfo per round
    val info = spark.range(1).select(
      lit("warcinfo").as("warc_type"),
      infoId.as("record_id"),
      lit(null).cast("string").as("warcinfo_id"),
      lit(null).cast("string").as("concurrent_to"),
      lit(null).cast("string").as("target_uri"),
      lit(0L).as("date"),
      lit("application/warc-fields").as("content_type"),
      lit(null).cast("string").as("identified_payload_type"),
      lit(null).cast("string").as("payload_digest"),
      lit(null).cast("string").as("warc_profile"),
      lit(null).cast("int").as("http_status"),
      encode(lit("software: " + Software +
        "\r\nformat: WARC File Format 1.1\r\nisPartOf: round-" + round + "\r\n"),
        "UTF-8").as("payload"),
      lit(round).as("round"))

    info.unionByName(perPage)
  }

  /** Serialize the record table to actual WARC/1.1 record text (named
    * fields + Content-Length + double-CRLF framing, reference
    * WarcWriter.writeRecord). One string per record; write with
    * `.write.text(...)` for WARC-shard files (session timezone must be UTC
    * for the WARC-Date rendering — the engine's sessions pin UTC). */
  def toWarc(records: DataFrame): DataFrame = records.select(warcTextCol.as("value"))

  /** The serialized WARC/1.1 text of one record row as a COLUMN — shared by
    * [[toWarc]] and the CDX layout ([[Cdx]]), so the byte offsets the CDX
    * index reports are computed over exactly the text the sink writes. */
  def warcTextCol: Column = {
    def header(name: String, value: Column): Column =
      when(value.isNotNull, concat(lit(name + ": "), value, lit("\r\n"))).otherwise(lit(""))
    concat(
      lit("WARC/1.1\r\n"),
      header("WARC-Type", col("warc_type")),
      header("WARC-Record-ID", col("record_id")),
      header("WARC-Date",
        date_format(timestamp_millis(col("date")), "yyyy-MM-dd'T'HH:mm:ss'Z'")),
      header("WARC-Target-URI", col("target_uri")),
      header("WARC-Warcinfo-ID", col("warcinfo_id")),
      header("WARC-Concurrent-To", col("concurrent_to")),
      header("WARC-Payload-Digest", col("payload_digest")),
      header("WARC-Profile", col("warc_profile")),
      header("WARC-Identified-Payload-Type", col("identified_payload_type")),
      header("Content-Type", col("content_type")),
      header("Content-Length", length(col("payload")).cast("string")),
      lit("\r\n"),
      decode(col("payload"), "UTF-8"),
      lit("\r\n\r\n"))
  }

  /** Parse serialized WARC/1.1 record text back into the record table's
    * core columns (round-trip reader for `toWarc` output; the ARC/WARC
    * ingestion direction of the reference's util.WarcReader-style tooling).
    * Pure column expressions: header block split at the first blank line,
    * named fields extracted by regex, payload re-encoded as binary. */
  def fromWarc(warcText: DataFrame): DataFrame = {
    val head = split(col("value"), "\r\n\r\n", 2).getItem(0)
    val payload = regexp_replace(
      split(col("value"), "\r\n\r\n", 2).getItem(1), "\r\n\r\n$", "")
    def field(name: String): Column = {
      val m = regexp_extract(head, "(?m)^" + name + ": (.*)$", 1)
      when(m === "", lit(null)).otherwise(m)
    }
    warcText.select(
      field("WARC-Type").as("warc_type"),
      field("WARC-Record-ID").as("record_id"),
      field("WARC-Warcinfo-ID").as("warcinfo_id"),
      field("WARC-Concurrent-To").as("concurrent_to"),
      field("WARC-Target-URI").as("target_uri"),
      (unix_timestamp(field("WARC-Date"), "yyyy-MM-dd'T'HH:mm:ss'Z'").cast("long") * 1000L)
        .as("date"),
      field("Content-Type").as("content_type"),
      field("WARC-Identified-Payload-Type").as("identified_payload_type"),
      field("WARC-Payload-Digest").as("payload_digest"),
      field("WARC-Profile").as("warc_profile"),
      field("Content-Length").cast("int").as("content_length"),
      encode(payload, "UTF-8").as("payload"))
  }
}

/** WARC response records → the engine's fetched pages: the INGESTION
  * direction (re-entering an archive as a crawl round, the WARC sibling of
  * ArcImport — reference tools.arc generalized to its own output format).
  * Parses serialized WARC/1.1 text with [[WarcExport.fromWarc]], keeps the
  * 200-status `response` records, splits each HTTP payload at the first
  * blank line into headers + body, resolves the Content-Type header, and
  * dispatches the body through the mime registry — identical downstream
  * shape to a live fetch. Partition-local; no shuffle. */
object WarcImport {
  import org.apache.spark.sql.Dataset
  import graft.fetch.FetchedPage
  import graft.frontier.{CrawlConfig, Signer}

  private val CtRe = "(?im)^content-type:\\s*(.+?)\\s*$".r
  // HTTP/1.x "HTTP/1.1 200 OK" and HTTP/2-style "HTTP/2 200" status lines
  private val StatusRe = "^HTTP/\\S+\\s+(\\d{3})".r

  def toFetched(warcText: Dataset[String], cfg: CrawlConfig, round: Int): Dataset[FetchedPage] = {
    val spark = warcText.sparkSession
    import spark.implicits._
    val signer = Signer.forConfig(cfg)
    val records = WarcExport.fromWarc(warcText.toDF())
      .filter(org.apache.spark.sql.functions.col("warc_type") === "response")
      .select("target_uri", "date", "payload")
    records.as[(String, Long, Array[Byte])].flatMap { case (uri, dateMs, payload) =>
      if (payload == null) Iterator.empty
      else {
        val text = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
        // payloads WITHOUT a reconstructed HTTP message (producers that
        // store bare document bodies) import whole — splitting at the first
        // blank line of a bare body would silently discard its prefix
        val isHttp = text.startsWith("HTTP/")
        val cut = if (isHttp) text.indexOf("\r\n\r\n") else -1
        val (head, body) =
          if (cut >= 0) (text.substring(0, cut), text.substring(cut + 4))
          else if (isHttp) (text, "")
          else ("", text)
        // unparseable status line on an HTTP payload ⇒ skip the record
        // (defaulting to 200 would import 404/500 bodies as FETCH_SUCCESS)
        val status =
          if (!isHttp) Some(200)
          else StatusRe.findFirstMatchIn(head).map(_.group(1).toInt)
        if (!status.contains(200)) Iterator.empty // only successful captures re-enter
        else {
          val ct = CtRe.findFirstMatchIn(head).map(_.group(1)).orNull
          ArcImport.archivedPage(uri, dateMs, ct,
            body.getBytes(java.nio.charset.StandardCharsets.UTF_8), cfg, signer, round)
        }
      }
    }
  }
}

/** WARC-record sink behind the IndexWriter plugin point: exports the round's
  * docs joined back to their WARC shape. Expects the record table from
  * [[WarcExport.records]] (use via Crawl.exportWarc). */
case class WarcIndexWriter(root: String) extends IndexWriter {
  override def name: String = "warc"
  override def write(records: DataFrame, round: Int): Unit =
    records.write.mode("overwrite").parquet(s"$root/r$round")
}
