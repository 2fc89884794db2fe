package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.{mime_resolve, url_host, url_tld}

/** The reference's IndexingFilter plugin chain (reference
  * src/java/org/apache/nutch/indexer/IndexingFilters.java), re-expressed as
  * composable DataFrame column transforms: each filter either adds fields to
  * every index document or drops documents, and the chain folds left in
  * order (a dropped doc never reaches later filters), exactly like the
  * reference's sequential `filter(doc, ...)` loop where a null return kills
  * the document.
  *
  * All transforms are pure column expressions — the whole chain stays inside
  * whole-stage codegen, no UDFs, no shuffles. Input documents carry at least
  * (url, title, text); optional columns (content_type, fetch_time,
  * parse_meta) enable the corresponding fields.
  */
trait IndexingFilter {
  def name: String
  def apply(docs: DataFrame): DataFrame
}

object IndexingFilter {
  private[index] def hasCol(df: DataFrame, c: String): Boolean = df.columns.contains(c)
}

/** index-basic (BasicIndexingFilter.java:70-130): host field, title/content
  * truncation (indexer.max.title.length = 100, indexer.max.content.length =
  * -1 ⇒ unlimited), tstamp from the fetch time when present. */
case class BasicFieldsFilter(maxTitleLength: Int = 100, maxContentLength: Int = -1)
    extends IndexingFilter {
  override def name: String = "index-basic"
  override def apply(docs: DataFrame): DataFrame = {
    var d = docs
    if (!IndexingFilter.hasCol(d, "host"))
      d = d.withColumn("host", url_host(col("url")))
    if (maxTitleLength > -1 && IndexingFilter.hasCol(d, "title"))
      d = d.withColumn("title", substring(col("title"), 1, maxTitleLength))
    if (maxContentLength > -1 && IndexingFilter.hasCol(d, "text"))
      d = d.withColumn("text", substring(col("text"), 1, maxContentLength))
    if (IndexingFilter.hasCol(d, "fetch_time"))
      d = d.withColumn("tstamp", col("fetch_time"))
    d
  }
}

/** index-more (MoreIndexingFilter.java addType/addLength): `type` = resolved
  * mime, primary/sub split, content_length from an existing column or the
  * text octet length (no HTTP headers survive to the index table here). */
case class MoreFieldsFilter() extends IndexingFilter {
  override def name: String = "index-more"
  override def apply(docs: DataFrame): DataFrame = {
    val mime: Column =
      if (IndexingFilter.hasCol(docs, "mime")) col("mime")
      else mime_resolve(
        if (IndexingFilter.hasCol(docs, "content_type")) col("content_type")
        else lit(null).cast("string"),
        col("url"))
    docs
      .withColumn("type", mime)
      .withColumn("primary_type", split(col("type"), "/").getItem(0))
      .withColumn("sub_type", split(col("type"), "/").getItem(1))
      .withColumn("content_length",
        if (IndexingFilter.hasCol(docs, "content_length")) col("content_length")
        else octet_length(coalesce(col("text"), lit(""))).cast("long"))
  }
}

/** tld plugin (TLDIndexingFilter): public-suffix field of the host. */
case class TldFilter() extends IndexingFilter {
  override def name: String = "tld"
  override def apply(docs: DataFrame): DataFrame = {
    val host =
      if (IndexingFilter.hasCol(docs, "host")) col("host")
      else url_host(col("url"))
    docs.withColumn("tld", url_tld(host))
  }
}

/** subcollection plugin (SubcollectionIndexingFilter + Subcollection
  * .filter: whitelist prefix match, blacklist veto): every matching
  * collection name lands in the field, comma-joined (the reference emits
  * one multi-valued field). */
case class SubcollectionDef(
    name: String,
    whitePrefixes: Seq[String],
    blackPrefixes: Seq[String] = Nil,
    caseInsensitive: Boolean = false)

case class SubcollectionFilter(
    defs: Seq[SubcollectionDef],
    fieldName: String = "subcollection") extends IndexingFilter {
  override def name: String = "subcollection"
  override def apply(docs: DataFrame): DataFrame = {
    def urlCol(ci: Boolean): Column = if (ci) lower(col("url")) else col("url")
    def pfx(p: String, ci: Boolean): String = if (ci) p.toLowerCase else p
    val matches: Seq[Column] = defs.map { d =>
      val u = urlCol(d.caseInsensitive)
      val white = d.whitePrefixes.map(p => u.startsWith(pfx(p, d.caseInsensitive)))
        .reduceOption(_ || _).getOrElse(lit(false))
      val black = d.blackPrefixes.map(p => u.startsWith(pfx(p, d.caseInsensitive)))
        .reduceOption(_ || _).getOrElse(lit(false))
      when(white && !black, lit(d.name))
    }
    docs.withColumn(fieldName,
      when(concat_ws(",", matches: _*) === "", lit(null).cast("string"))
        .otherwise(concat_ws(",", matches: _*)))
  }
}

/** mimetype-filter plugin (MimeTypeIndexingFilter): ordered ±rules over the
  * resolved mime (exact or `prefix/ *` glob); first match decides, no match
  * falls to `defaultAccept` (the reference's acceptMode). Documents that are
  * denied are DROPPED from the index. */
case class MimeTypeFilter(
    rules: Seq[(Boolean, String)],
    defaultAccept: Boolean = true) extends IndexingFilter {
  override def name: String = "mimetype-filter"
  override def apply(docs: DataFrame): DataFrame = {
    val mime: Column =
      if (IndexingFilter.hasCol(docs, "type")) col("type")
      else if (IndexingFilter.hasCol(docs, "mime")) col("mime")
      else mime_resolve(
        if (IndexingFilter.hasCol(docs, "content_type")) col("content_type")
        else lit(null).cast("string"),
        col("url"))
    def matches(pattern: String): Column =
      if (pattern.endsWith("/*")) mime.startsWith(pattern.dropRight(1))
      else mime === pattern
    val verdict = rules.foldLeft(when(lit(false), lit(true))) {
      case (acc, (accept, pattern)) => acc.when(matches(pattern), lit(accept))
    }.otherwise(lit(defaultAccept))
    docs.filter(verdict)
  }
}

/** index-anchor (AnchorIndexingFilter): the document's inlink anchor texts
  * from the linkdb, deduplicated (optionally one per linking host) and
  * '|'-joined sorted — the reference emits a multi-valued `anchor` field.
  * The join is url-to-url against the (large) linkdb: a plain shuffle join,
  * the correct shape when both sides are corpus-sized. */
case class AnchorFilter(linkdb: DataFrame, deduplicateByHost: Boolean = false)
    extends IndexingFilter {
  override def name: String = "index-anchor"
  override def apply(docs: DataFrame): DataFrame = {
    val withText = filter(col("inlinks"),
      i => i.getField("anchor").isNotNull && i.getField("anchor") =!= "")
    val anchors: Column =
      if (!deduplicateByHost)
        array_sort(array_distinct(transform(withText, i => i.getField("anchor"))))
      else {
        // one anchor per linking host: fold into a host-keyed map, first wins
        val m = aggregate(withText,
          map_from_arrays(array().cast("array<string>"), array().cast("array<string>")),
          (acc, i) => {
            val h = url_host(i.getField("from_url"))
            when(h.isNull || map_contains_key(acc, h), acc)
              .otherwise(map_concat(acc, map(h, i.getField("anchor"))))
          })
        array_sort(array_distinct(map_values(m)))
      }
    val prepared = linkdb.select(col("url"),
      when(size(anchors) > 0, array_join(anchors, "|")).as("anchor"))
    docs.join(prepared, Seq("url"), "left")
  }
}

/** index-links (LinksIndexingFilter): linking URLs (or just their hosts)
  * as an `inlinks` field, optionally dropping same-host (internal) links. */
case class LinksFilter(
    linkdb: DataFrame,
    hostsOnly: Boolean = false,
    ignoreInternal: Boolean = false) extends IndexingFilter {
  override def name: String = "index-links"
  override def apply(docs: DataFrame): DataFrame = {
    val pageHost = url_host(col("url"))
    val kept =
      if (ignoreInternal)
        filter(col("inlinks"), i => url_host(i.getField("from_url")) =!= pageHost)
      else col("inlinks")
    val vals = transform(kept, i =>
      if (hostsOnly) url_host(i.getField("from_url")) else i.getField("from_url"))
    val prepared = linkdb.select(col("url"), col("inlinks"))
    docs.join(prepared, Seq("url"), "left")
      .withColumn("inlinks", {
        val arr = array_sort(array_distinct(filter(vals, v => v.isNotNull)))
        when(col("inlinks").isNull || size(arr) === 0, lit(null).cast("string"))
          .otherwise(array_join(arr, "|"))
      })
  }
}

/** index-static (StaticFieldIndexer): constant fields on every document. */
case class StaticFieldsFilter(fields: Map[String, String]) extends IndexingFilter {
  override def name: String = "index-static"
  override def apply(docs: DataFrame): DataFrame =
    fields.toSeq.sortBy(_._1).foldLeft(docs) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
}

/** index-metadata: lift configured parse_meta/metadata map keys into
  * top-level fields (missing keys ⇒ null field, like the reference). */
case class MetadataFieldsFilter(keys: Seq[String], mapCol: String = "parse_meta")
    extends IndexingFilter {
  override def name: String = "index-metadata"
  override def apply(docs: DataFrame): DataFrame =
    if (!IndexingFilter.hasCol(docs, mapCol)) docs
    else keys.foldLeft(docs)((d, k) => d.withColumn(k, element_at(col(mapCol), k)))
}

/** scoring-link indexer boost (reference src/plugin/scoring-link
  * LinkAnalysisScoringFilter.indexerScore:35-44): document boost =
  * link.analyze.normalize.score × the crawldb score (the LinkRank rank
  * installed by ScoreUpdater). Docs without a score column pass through. */
case class LinkAnalysisScoreFilter(normalizedScore: Double = 1.0) extends IndexingFilter {
  override def name: String = "scoring-link"
  override def apply(docs: DataFrame): DataFrame =
    if (!IndexingFilter.hasCol(docs, "score")) docs
    else docs.withColumn("boost", lit(normalizedScore) * col("score").cast("double"))
}

/** index-arbitrary (reference src/plugin/index-arbitrary
  * ArbitraryIndexingFilter.java:93-180): user-supplied logic computes a new
  * index field per document. The reference reflectively instantiates a
  * custom class and invokes a method per doc; re-based here on an arbitrary
  * Spark SQL expression over the document's columns — the same "bring your
  * own field logic" surface, but the user code stays inside whole-stage
  * codegen instead of a per-row reflective call (documented API change,
  * like the JEXL→SQL re-basings). Each entry is (field, expression,
  * overwrite): overwrite=true replaces an existing field (the reference's
  * doc.setField branch); overwrite=false on an existing field appends into
  * a multivalued array (the NutchDocument.add branch); a new field is
  * simply created. */
case class ArbitraryFieldsFilter(fields: Seq[(String, String, Boolean)]) extends IndexingFilter {
  override def name: String = "index-arbitrary"
  override def apply(docs: DataFrame): DataFrame =
    fields.foldLeft(docs) { case (d, (field, exprText, overwrite)) =>
      val v = GraftFunctions.sqlExpr(d.sparkSession, exprText)
      if (!IndexingFilter.hasCol(d, field) || overwrite) d.withColumn(field, v)
      else d.schema(field).dataType match {
        case _: org.apache.spark.sql.types.ArrayType =>
          d.withColumn(field, array_append(col(field), v))
        case _ => d.withColumn(field, array(col(field), v))
      }
    }
}

/** language-identifier plugin (reference src/plugin/language-identifier
  * LanguageIndexingFilter.java:60-85): `lang` field with the reference's
  * exact precedence — parse-time identification (parse_meta["lang"], which
  * HTMLLanguageParser fills from html lang attr / meta Content-Language /
  * its detector) ≻ the Content-Language response header ≻ "unknown" — plus
  * the `lang.index.languages` whitelist, where a doc whose language is not
  * listed is DROPPED (the reference returns null ⇒ document killed).
  *
  * `detectFromText` adds the marker-word detector over the text column as a
  * final fallback before "unknown" — the stand-in for the reference's
  * parse-time NGramProfile detection (which our parse path does not run),
  * kept column-pure so the chain stays in whole-stage codegen. */
case class LanguageFilter(
    indexLangs: Set[String] = Set.empty,
    detectFromText: Boolean = true) extends IndexingFilter {
  override def name: String = "language-identifier"
  override def apply(docs: DataFrame): DataFrame = {
    val candidates: Seq[Column] = Seq(
      if (IndexingFilter.hasCol(docs, "parse_meta"))
        Some(element_at(col("parse_meta"), "lang")) else None,
      if (IndexingFilter.hasCol(docs, "content_language"))
        Some(col("content_language")) else None,
      if (IndexingFilter.hasCol(docs, "lang")) Some(col("lang")) else None,
      if (detectFromText && IndexingFilter.hasCol(docs, "text"))
        // the detector's "und" means undetermined — fall through to unknown
        Some(nullif(graft.ops.TextOps.langGuessCol(col("text")), lit("und"))) else None
    ).flatten
    val lang = coalesce((candidates :+ lit("unknown")): _*)
    val stamped = docs.withColumn("lang", lang)
    if (indexLangs.isEmpty) stamped
    else stamped.filter(col("lang").isin(indexLangs.toSeq: _*))
  }
}

/** index-geoip plugin (reference src/plugin/index-geoip
  * GeoIPIndexingFilter.java + GeoIPDocumentCreator): location fields for a
  * document's `ip` field, resolved against an IP-range table. The reference
  * reads MaxMind's .mmdb per row; re-expressed distributively as a range
  * table the user supplies as a DataFrame with (start_ip, end_ip: long,
  * …attribute columns) — the scale-correct realization is a BUCKETIZED
  * equi-join: each range is exploded across the /16 buckets it spans, docs
  * join on their /16 bucket (plain hash join, broadcastable — a GeoIP table
  * is a few hundred MB at most), then the start≤ip≤end residual predicate
  * picks the covering range. No BroadcastNestedLoopJoin, no per-row mmdb
  * lookups; ranges are assumed disjoint (IP allocations are). Docs without
  * an `ip` column (store.ip.address off) pass through untouched, like the
  * reference's addServerGeo with no ip field. */
case class GeoIpFilter(ranges: DataFrame, ipCol: String = "ip") extends IndexingFilter {
  override def name: String = "index-geoip"

  /** Dotted-quad → unsigned 32-bit value as a long, pure column code. */
  private def ipToLong(ip: Column): Column = {
    val parts = split(ip, "\\.")
    element_at(parts, 1).cast("long") * 16777216L +
      element_at(parts, 2).cast("long") * 65536L +
      element_at(parts, 3).cast("long") * 256L +
      element_at(parts, 4).cast("long")
  }

  override def apply(docs: DataFrame): DataFrame = {
    if (!IndexingFilter.hasCol(docs, ipCol)) return docs
    val bucketed = ranges
      .withColumn("_geo_rbucket",
        explode(sequence((col("start_ip") / 65536L).cast("long"), (col("end_ip") / 65536L).cast("long"))))
    val attrCols = ranges.columns.filterNot(c => c == "start_ip" || c == "end_ip")
    val lhs = docs
      .withColumn("_geo_ip_int", ipToLong(col(ipCol)))
      .withColumn("_geo_bucket", (col("_geo_ip_int") / 65536L).cast("long"))
    // equi-key on the bucket + residual range predicate INSIDE the left
    // join: still a BroadcastHashJoin, and an uncovered IP keeps its row
    // with null geo fields instead of being dropped
    lhs
      .join(broadcast(bucketed),
        lhs("_geo_bucket") === bucketed("_geo_rbucket") &&
          lhs("_geo_ip_int") >= bucketed("start_ip") &&
          lhs("_geo_ip_int") <= bucketed("end_ip"),
        "left")
      .select((docs.columns.map(lhs(_)) ++ attrCols.map(bucketed(_))): _*)
  }
}

/** index-jexl-filter: drop documents failing a configured predicate — the
  * JEXL expression surface re-based on Spark SQL (same documented API change
  * as the generator's expression filter). */
case class ExprIndexingFilter(predicate: String) extends IndexingFilter {
  override def name: String = "index-jexl-filter"
  override def apply(docs: DataFrame): DataFrame = docs.filter(GraftFunctions.sqlExpr(docs.sparkSession, predicate))
}

/** One field replacement of the index-replace plugin: regex-replace
  * `field`'s value into `toField` (usually the same field). `flags` are
  * java.util.regex.Pattern flags (CASE_INSENSITIVE=2, MULTILINE=8,
  * DOTALL=32 ...), realized as inline `(?ims)` prefixes so the whole thing
  * stays a codegen'd regexp_replace. */
case class FieldReplacement(
    field: String,
    toField: String,
    pattern: String,
    replacement: String,
    flags: Int = 0) {
  def inlinePattern: String = {
    var s = ""
    if ((flags & 2) != 0) s += "i"
    if ((flags & 4) != 0) s += "x"
    if ((flags & 8) != 0) s += "m"
    if ((flags & 32) != 0) s += "s"
    if ((flags & 64) != 0) s += "u"
    if (s.isEmpty) pattern else s"(?$s)$pattern"
  }
}

/** One scope of index-replace rules: applies when the doc's host (hostmatch)
  * or url (urlmatch) finds the scope pattern. */
case class ReplaceScope(
    hostMatch: Option[String],
    urlMatch: Option[String],
    replacements: Seq[FieldReplacement])

/** index-replace plugin (reference src/plugin/index-replace/ReplaceIndexer
  * .java): hostmatch/urlmatch-scoped regex replacements over index fields,
  * applied in configuration order; a replacement writes `toField` ONLY when
  * the value actually matches (Matcher.find, ReplaceIndexer FieldReplacer
  * .replace:137-148) — otherwise an existing target keeps its value and a
  * new target field stays null. Pure column expressions. */
case class ReplaceFilter(scopes: Seq[ReplaceScope]) extends IndexingFilter {
  override def name: String = "index-replace"
  override def apply(docs: DataFrame): DataFrame = {
    scopes.foldLeft(docs) { (d0, scope) =>
      val hostCol: Column =
        if (IndexingFilter.hasCol(d0, "host")) col("host")
        else url_host(col("url"))
      val inScope: Column = Seq(
        scope.hostMatch.map(p => hostCol.rlike(p)),
        scope.urlMatch.map(p => col("url").rlike(p))
      ).flatten.reduceOption(_ || _).getOrElse(lit(true))
      scope.replacements.foldLeft(d0) { (d, r) =>
        if (!IndexingFilter.hasCol(d, r.field)) d
        else {
          val pat = r.inlinePattern
          val hit = inScope && col(r.field).isNotNull && col(r.field).rlike(pat)
          val prev: Column =
            if (IndexingFilter.hasCol(d, r.toField)) col(r.toField)
            else lit(null).cast("string")
          d.withColumn(r.toField,
            when(hit, regexp_replace(col(r.field), pat, r.replacement)).otherwise(prev))
        }
      }
    }
  }
}

object ReplaceFilter {
  /** Parse the reference's `index.replace.regexp` property text
    * (ReplaceIndexer.parseConf:96-175): `hostmatch=regex` / `urlmatch=regex`
    * open a scope (implicit initial scope matches every host);
    * `field[:to]=<sep>pattern<sep>replacement<sep>[flags]` adds a
    * replacement. Malformed lines are skipped like the reference. */
  def parseConf(text: String): ReplaceFilter = {
    val scopes = collection.mutable.ArrayBuffer.empty[ReplaceScope]
    var host: Option[String] = Some(".*")
    var url: Option[String] = None
    var repl = Vector.empty[FieldReplacement]
    def flush(): Unit = {
      if (repl.nonEmpty) scopes += ReplaceScope(host, url, repl)
      repl = Vector.empty
    }
    for (raw <- text.linesIterator; line = raw.trim if line.nonEmpty) {
      val eq = line.indexOf('=')
      if (eq > 0) {
        val name = line.substring(0, eq).trim
        val value = line.substring(eq + 1)
        name match {
          case "hostmatch" => flush(); host = Some(value); url = None
          case "urlmatch"  => flush(); host = None; url = Some(value)
          case _ if value.length > 3 =>
            val (field, toField) = name.indexOf(':') match {
              case i if i > 0 => (name.substring(0, i), name.substring(i + 1))
              case _          => (name, name)
            }
            val sep = value.substring(0, 1)
            val rest = value.substring(1)
            val parts = rest.split(java.util.regex.Pattern.quote(sep), -1)
            if (parts.length >= 2) {
              val flags = if (parts.length >= 3) parts(2).trim.toIntOption.getOrElse(0) else 0
              repl :+= FieldReplacement(field, toField, parts(0), parts(1), flags)
            }
          case _ => // malformed, skip
        }
      }
    }
    flush()
    ReplaceFilter(scopes.toSeq)
  }
}

/** Ordered chain; fold-left like the reference's IndexingFilters loop. */
case class IndexingFilterChain(filters: Seq[IndexingFilter]) {
  def apply(docs: DataFrame): DataFrame = filters.foldLeft(docs)((d, f) => f(d))
}
