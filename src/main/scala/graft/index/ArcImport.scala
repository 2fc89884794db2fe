package graft.index

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.fetch.FetchedPage
import graft.frontier.{CrawlConfig, Signer}
import graft.schema.CrawlStatus
import graft.url.Urls

/** Legacy ARC ingestion (the reference's tools.arc surface:
  * ArcRecordReader splits the container into `header-line + payload`
  * records, ArcSegmentCreator maps each to a successful fetch —
  * reference/src/java/org/apache/nutch/tools/arc/ArcRecordReader.java:195-280,
  * ArcSegmentCreator.java:274-340).
  *
  * ARC v1 URL-record header: `url ip-address archive-date content-type
  * length` (whitespace-separated); the container opens with a
  * `filedesc://` version record, which is skipped like the reference does.
  *
  * Framing is BYTE-EXACT: the container is consumed as raw bytes and each
  * record's payload is the `length`-byte slice after the header line — the
  * ARC length field counts bytes, so multi-byte (UTF-8 etc.) payloads frame
  * correctly and every following record is found. Payload bytes pass through
  * undecoded into the mime-dispatched DocParser registry (which owns
  * per-record charset handling). Malformed headers end the scan (forgiving,
  * like the reference's readers) but the skipped byte count is RETURNED so
  * callers can surface data loss instead of silently dropping it.
  */
object ArcImport {

  final case class ArcRecord(url: String, ip: String, archiveDateMs: Long,
                             mime: String, payload: Array[Byte])

  /** parseArc result: the framed records plus how many container bytes the
    * forgiving scan had to abandon (0 on a well-formed container). */
  final case class ArcParse(records: Seq[ArcRecord], skippedBytes: Long)

  private val ArcDate = java.time.format.DateTimeFormatter
    .ofPattern("yyyyMMddHHmmss").withZone(java.time.ZoneOffset.UTC)

  /** Frame one ARC container's BYTES into its records. The header line is
    * ASCII by format; payloads are opaque byte slices (never decoded here). */
  def parseArc(container: Array[Byte]): ArcParse = {
    val out = scala.collection.mutable.ArrayBuffer.empty[ArcRecord]
    var i = 0
    val n = container.length
    def abandoned = ArcParse(out.toSeq, (n - i).toLong)
    while (i < n) {
      // skip blank separator lines
      while (i < n && (container(i) == '\n' || container(i) == '\r')) i += 1
      if (i < n) {
        var eol = i
        while (eol < n && container(eol) != '\n') eol += 1
        if (eol >= n) return abandoned // header line never terminated
        val header = new String(container, i, eol - i, StandardCharsets.UTF_8).trim
        val parts = header.split("\\s+")
        if (parts.length < 5) return abandoned // malformed header: stop
        val len = parts(parts.length - 1).toIntOption.getOrElse(return abandoned)
        val start = eol + 1
        if (len < 0 || start + len > n) return abandoned // truncated payload
        if (!parts(0).startsWith("filedesc://")) {
          val dateMs =
            try java.time.Instant.from(ArcDate.parse(parts(2))).toEpochMilli
            catch { case _: Exception => 0L }
          out += ArcRecord(parts(0), parts(1), dateMs, parts(3),
            java.util.Arrays.copyOfRange(container, start, start + len))
        }
        i = start + len
      }
    }
    ArcParse(out.toSeq, 0L)
  }

  /** Text-container convenience (tests, line-assembled fixtures): framing
    * happens on the UTF-8 bytes, so multi-byte payload characters count as
    * their byte length — matching the ARC length field's byte semantics. */
  def parseArc(container: String): Seq[ArcRecord] =
    parseArc(container.getBytes(StandardCharsets.UTF_8)).records

  /** Transparent gunzip: real-world `.arc.gz` containers are concatenated
    * per-record gzip members (ArcRecordReader scans for the gzip magic,
    * reference tools/arc/ArcRecordReader.java:62-71); GZIPInputStream reads
    * multi-member streams natively, yielding the plain concatenated
    * container this parser frames byte-exactly. Non-gzip bytes pass
    * through untouched. */
  def gunzipIfNeeded(bytes: Array[Byte]): Array[Byte] =
    if (bytes != null && bytes.length >= 2 &&
        (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
      val in = new java.util.zip.GZIPInputStream(
        new ByteArrayInputStream(bytes))
      try in.readAllBytes() finally in.close()
    } else bytes

  /** ARC containers (raw bytes each — e.g. `spark.read.format("binaryFile")`
    * content) → the engine's fetched-page rows: normalize + filter the URL,
    * dispatch the payload through the mime registry for spans, sign the
    * content — every row a FETCH_SUCCESS at the record's archive date
    * (ArcSegmentCreator's fixed success semantics). Partition-local; no
    * shuffle. `skippedBytesAcc` (optional) accumulates abandoned container
    * bytes so the import surfaces data loss in its lineage. */
  def toFetchedBytes(containers: Dataset[Array[Byte]], cfg: CrawlConfig, round: Int,
                     skippedBytesAcc: Option[org.apache.spark.util.LongAccumulator] = None
                    ): Dataset[FetchedPage] = {
    val spark = containers.sparkSession
    import spark.implicits._
    val signer = Signer.forConfig(cfg)
    containers.flatMap { bytes =>
      // a corrupt gzip container must not fail the whole import task: it
      // contributes zero records and its full byte count to the skip lineage
      val inflated =
        try gunzipIfNeeded(bytes)
        catch { case _: java.io.IOException =>
          skippedBytesAcc.foreach(_.add(bytes.length.toLong)); Array.emptyByteArray }
      val parsed = parseArc(inflated)
      if (parsed.skippedBytes > 0) skippedBytesAcc.foreach(_.add(parsed.skippedBytes))
      parsed.records.iterator.flatMap(r =>
        archivedPage(r.url, r.archiveDateMs, r.mime, r.payload, cfg, signer, round))
    }
  }

  /** One archived capture as a fetched page, the same for ARC and WARC: the
    * URL through the configured normalize + filter chain (None when the
    * chain drops it), the body through the mime registry, signed — a
    * FETCH_SUCCESS at the capture date. */
  private[index] def archivedPage(rawUrl: String, dateMs: Long, mime: String, body: Array[Byte],
                                  cfg: CrawlConfig, signer: Signer, round: Int): Option[FetchedPage] =
    Option(cfg.urlChain(rawUrl))
      .map { url =>
        val spans = graft.parse.DocParsers.parseSpans(mime, url, body, cfg)
        FetchedPage(url, Urls.hash64(url), Urls.hostOf(url), CrawlStatus.FETCH_SUCCESS,
          "SUCCESS", dateMs, mime, signer.signSpans(spans), null,
          0, cfg.fetchIntervalDefault, 1.0f, round, spans)
      }

  /** Text-container convenience over [[toFetchedBytes]]. */
  def toFetched(containers: Dataset[String], cfg: CrawlConfig, round: Int,
                skippedBytesAcc: Option[org.apache.spark.util.LongAccumulator] = None
               ): Dataset[FetchedPage] = {
    val spark = containers.sparkSession
    import spark.implicits._
    toFetchedBytes(containers.map(_.getBytes(StandardCharsets.UTF_8)), cfg, round,
      skippedBytesAcc)
  }
}
