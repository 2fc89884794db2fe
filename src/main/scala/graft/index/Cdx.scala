package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDX index beside the WARC sink (the reference's
  * reference/src/java/org/commoncrawl/util/WarcCdxWriter.java:1-226 — the
  * lookup path every CommonCrawl consumer uses): one CDX row per
  * response/revisit capture carrying urlkey (SURT canonical key), 14-digit
  * timestamp, original URL, mime, HTTP status, payload digest, and the
  * record's byte length / offset / filename inside its WARC shard — so a
  * consumer resolves `url → CDX row → byte-range read of one record`
  * without scanning containers.
  *
  * The WARC shard layout is DECLARED, not discovered: records are assigned
  * to `nFiles` shards by record-id hash and ordered by record_id within a
  * shard; byte offsets then come from a running window sum over the
  * serialized record's octet length. That is one shuffle (by shard) at any
  * scale — no driver-side accounting — and [[fileContents]] materializes
  * exactly that layout, so the reported offsets always agree with the
  * written bytes (the spec round-trips a slice back through
  * [[WarcExport.fromWarc]]).
  */
object Cdx {

  /** The record table + its shard layout columns: `filename`, byte `length`
    * of the serialized record, byte `offset` within the shard, and the
    * serialized `warc_text` itself. */
  def layout(records: DataFrame, nFiles: Int, filePrefix: String): DataFrame = {
    require(nFiles > 0, "nFiles must be positive")
    val w = Window.partitionBy(col("cdx_file")).orderBy(col("record_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    records
      .withColumn("warc_text", WarcExport.warcTextCol)
      .withColumn("cdx_file", pmod(xxhash64(col("record_id")), lit(nFiles.toLong)))
      .withColumn("filename",
        concat(lit(filePrefix + "-"), format_string("%05d", col("cdx_file")), lit(".warc")))
      .withColumn("length", octet_length(col("warc_text")).cast("long"))
      .withColumn("offset", coalesce(sum(col("length")).over(w), lit(0L)))
  }

  /** CDX rows for the captures (response + revisit records only — request/
    * metadata/warcinfo records live in the shards but are not lookup keys,
    * like the reference writer). */
  def index(records: DataFrame, nFiles: Int = 16, filePrefix: String = "warc"): DataFrame = {
    layout(records, nFiles, filePrefix)
      .filter(col("warc_type").isin("response", "revisit"))
      .select(
        graft.functions.GraftFunctions.url_surt(col("target_uri")).as("urlkey"),
        date_format(timestamp_millis(col("date")), "yyyyMMddHHmmss").as("cdx_timestamp"),
        col("target_uri").as("url"),
        coalesce(col("identified_payload_type"), lit("unk")).as("mime"),
        col("http_status").as("status"),
        col("payload_digest").as("digest"),
        col("length"), col("offset"), col("filename"), col("record_id"))
  }

  /** Classic space-separated CDX lines (` CDX N b a m s k S V g` field
    * order, reference WarcCdxWriter's line rendering) — write with
    * `.write.text(...)` after an `orderBy(urlkey, cdx_timestamp)` for the
    * sorted master index. */
  def toCdxLines(idx: DataFrame): DataFrame =
    // concat_ws silently DROPS nulls — a null urlkey (unparseable
    // target_uri) would shift every following field left; render "-" instead
    idx.select(concat_ws(" ",
      coalesce(col("urlkey"), lit("-")),
      coalesce(col("cdx_timestamp"), lit("-")),
      col("url"), col("mime"),
      coalesce(col("status").cast("string"), lit("-")),
      coalesce(col("digest"), lit("-")),
      col("length"), col("offset"), col("filename")).as("value"))

  /** Each WARC shard's full content under the declared layout: records
    * concatenated in record_id order (the order the offsets were computed
    * over). One row per shard — (filename, content). */
  def fileContents(layoutDf: DataFrame): DataFrame =
    layoutDf.groupBy(col("filename")).agg(
      array_join(
        transform(
          array_sort(collect_list(struct(col("record_id"), col("warc_text")))),
          s => s.getField("warc_text")),
        "").as("content"))
}
