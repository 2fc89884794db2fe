package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, IsNull, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

import graft.url.{Mime, PublicSuffix, UrlChain, UrlFilter, Urls}

/** Native Catalyst expressions for the graft kernels (SURVEY.md §4 "Custom
  * Catalyst inventory"). Each is a [[Kernel]]: it keeps its SQL name and
  * children, and the optimizer replaces it with a StaticInvoke of a static
  * function over Spark's types, so it runs inside whole-stage codegen (no
  * UDF serialization boundary) and evaluates reflectively when interpreted.
  */

/** A kernel calling `target.fn` on `args` (the children by default), typed
  * `resultType`. A null argument gives null without a call unless
  * `propagateNull` is off; `returnNullable` says the call may return null. */
abstract class Kernel(target: AnyRef, fn: String, resultType: DataType,
    propagateNull: Boolean = true, returnNullable: Boolean = true)
    extends RuntimeReplaceable {
  protected def args: Seq[Expression] = children
  override lazy val replacement: Expression = StaticInvoke(target.getClass, resultType, fn,
    args, propagateNull = propagateNull, returnNullable = returnNullable)
}

/** Static forwarders from Spark's types to the pure graft.url / graft.ops
  * functions, one per kernel that needs a conversion. A value a kernel
  * carries (a URL chain, a filter, a broadcast) arrives as an object literal,
  * which codegen attaches to the generated class as one reference object. */
object Kernels {
  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  def urlCanonicalize(s: UTF8String): UTF8String = utf8(Urls.canonicalize(s.toString))
  def urlCanonFilter(chain: UrlChain, s: UTF8String): UTF8String = utf8(chain(s.toString))
  def urlAccept(filter: UrlFilter, s: UTF8String): Boolean = filter.accept(s.toString)
  def urlHost(s: UTF8String): UTF8String = utf8(Urls.hostOf(s.toString))
  def urlDomain(host: UTF8String): UTF8String = utf8(Urls.registeredDomainOf(host.toString))
  def urlTld(host: UTF8String): UTF8String = utf8(PublicSuffix.publicSuffixOf(host.toString))
  def urlSurt(s: UTF8String): UTF8String = utf8(Urls.surt(s.toString))
  def urlHash64(s: UTF8String): Long = Urls.hash64(s.toString)
  def urlHashInterleave(s: UTF8String): Int = Urls.interleaveHash(s.toString)
  def textFingerprint64(s: UTF8String): Long = Urls.rollingHash64(s.toString)
  def textBpeCount(s: UTF8String): Long = graft.ops.Bpe.countTokens(s.toString)
  def mimeResolve(ctNull: Boolean, ct: UTF8String, urlNull: Boolean, url: UTF8String): UTF8String =
    UTF8String.fromString(Mime.resolve(if (ctNull) null else ct.toString,
      if (urlNull) null else url.toString))
  def bloomMightContain(bloom: Broadcast[BloomFilter], h: Long): Boolean =
    bloom.value.mightContainLong(h)
}

/** Canonicalize a URL (null for unparseable). */
case class UrlCanonicalize(child: Expression)
    extends Kernel(Kernels, "urlCanonicalize", StringType) with UnaryLike[Expression] {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_canonicalize"
}

/** Raw URL → crawl URL through `chain` (null = dropped); the empty chain is
  * canonicalize + the default filters. One call per row on the final
  * UrlChain, a reference object of the generated class, like
  * [[BloomMightContainLong]]'s broadcast. */
case class UrlCanonFilter(child: Expression, chain: UrlChain = UrlChain.Empty)
    extends Kernel(Kernels, "urlCanonFilter", StringType) with UnaryLike[Expression] {
  override protected def args: Seq[Expression] =
    Seq(Literal.fromObject(chain, ObjectType(classOf[UrlChain])), child)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "url_canon_filter"
}

/** Lowercase host of a URL. */
case class HostOf(child: Expression)
    extends Kernel(Kernels, "urlHost", StringType) with UnaryLike[Expression] {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_host"
}

/** Registered domain of a host (public-suffix aware). */
case class RegisteredDomainOf(child: Expression)
    extends Kernel(Kernels, "urlDomain", StringType) with UnaryLike[Expression] {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_domain"
}

/** Public suffix (effective TLD) of a host — the reference's tld plugin
  * (src/plugin/tld TLDIndexingFilter uses URLUtil.getTopLevelDomain). */
case class PublicSuffixOf(child: Expression)
    extends Kernel(Kernels, "urlTld", StringType) with UnaryLike[Expression] {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_tld"
}

/** 64-bit URL-seen hash (MurmurHash2-64 of the canonical URL). */
case class UrlHash64(child: Expression)
    extends Kernel(Kernels, "urlHash64", LongType, returnNullable = false)
    with UnaryLike[Expression] {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_hash64"
}

/** Position-weighted interleave hash (politeness spread sort key). */
case class UrlHashInterleave(child: Expression)
    extends Kernel(Kernels, "urlHashInterleave", IntegerType, returnNullable = false)
    with UnaryLike[Expression] {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_hash_interleave"
}

/** 64-bit rolling-hash document fingerprint (h = 31*h + char), codegen'd.
  * The scale path for document fingerprinting: one pass, no tokenization. */
case class TextFingerprint64(child: Expression)
    extends Kernel(Kernels, "textFingerprint64", LongType, returnNullable = false)
    with UnaryLike[Expression] {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "text_fingerprint64"
}

/** Codegen'd bloom-membership probe over the broadcast URL-seen filter —
  * closes the last per-row UDF boundary on the update-sized hot paths
  * (UpdateDbColumnar link split, the round's bloom delta and stale-blob
  * reconcile in UrlSeen). The broadcast handle is a reference object of the
  * generated class; each row costs one virtual call into the sketch, inside
  * whole-stage codegen. */
case class BloomMightContainLong(child: Expression, bloomBc: Broadcast[BloomFilter])
    extends Kernel(Kernels, "bloomMightContain", BooleanType, returnNullable = false)
    with UnaryLike[Expression] {
  override protected def args: Seq[Expression] =
    Seq(Literal.fromObject(bloomBc, ObjectType(classOf[Broadcast[_]])), child)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "bloom_might_contain"
}

/** Content-type resolution: normalized header | by-URL-extension | default
  * (reference MimeUtil.autoResolveContentType). Binary, codegen'd; null
  * inputs resolve too, and the result is never null. Each input rides with
  * its null flag: generated code leaves a null value undefined (a CASE WHEN
  * with no ELSE keeps the last matched row's). */
case class MimeResolve(left: Expression, right: Expression)
    extends Kernel(Kernels, "mimeResolve", StringType, propagateNull = false,
      returnNullable = false) with BinaryLike[Expression] {
  override protected def args: Seq[Expression] = children.flatMap(c => Seq(IsNull(c), c))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "mime_resolve"
}

/** SURT-form CDX urlkey (WarcCdxWriter's urlkey column). */
case class UrlSurt(child: Expression)
    extends Kernel(Kernels, "urlSurt", StringType) with UnaryLike[Expression] {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_surt"
}

/** URL filter predicate (true = keep); the empty chain is the default
  * filters. The filter is a reference object, like [[UrlCanonFilter]]'s
  * chain. */
case class UrlAccept(child: Expression, urlFilter: UrlFilter = UrlChain.Empty)
    extends Kernel(Kernels, "urlAccept", BooleanType, returnNullable = false)
    with UnaryLike[Expression] {
  override protected def args: Seq[Expression] =
    Seq(Literal.fromObject(urlFilter, ObjectType(classOf[UrlFilter])), child)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "url_accept"
}

/** Allocation-free substring occurrence count — the leftmost non-overlapping
  * scan, exactly what `(length(s) - length(replace(s, n, ''))) / length(n)`
  * counts, WITHOUT materializing a replaced copy of the text per needle per
  * row (the marker-word scorers run a dozen needles over every document).
  *
  * One forward pass over the haystack bytes, read in place through the
  * string's base object and offset (no getBytes copy). (UTF8String.indexOf
  * takes a CHAR start position and re-walks the string from byte 0 to find
  * it on every call, so an indexOf loop is O(matches × position) —
  * quadratic for a dense needle like a single space. Byte-pattern matching
  * is exact for UTF-8: a valid needle's first byte is never a continuation
  * byte, so a byte match can only start on a codepoint boundary, and
  * advancing by the needle's byte length past a match reproduces the
  * non-overlapping char-based count.) */
object TextNative {
  def countSubstr(s: UTF8String, n: UTF8String): Long = {
    val nlen = n.numBytes()
    if (nlen == 0) return 0L
    val hBase = s.getBaseObject
    val hOff = s.getBaseOffset
    val nBase = n.getBaseObject
    val nOff = n.getBaseOffset
    val limit = s.numBytes() - nlen
    val first = Platform.getByte(nBase, nOff)
    var c = 0L
    var i = 0
    while (i <= limit) {
      if (Platform.getByte(hBase, hOff + i) == first) {
        var j = 1
        while (j < nlen && Platform.getByte(hBase, hOff + i + j) == Platform.getByte(nBase, nOff + j)) j += 1
        if (j == nlen) { c += 1; i += nlen } else i += 1
      } else i += 1
    }
    c
  }
}

/** Codegen'd leftmost non-overlapping occurrence count (see [[TextNative]]). */
case class TextCountSubstr(left: Expression, right: Expression)
    extends Kernel(TextNative, "countSubstr", LongType, returnNullable = false)
    with BinaryLike[Expression] {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "text_count_substr"
}

/** Merge-table BPE token count (graft.ops.Bpe): real tiktoken-style greedy
  * pair merging, codegen'd via the static forwarder — token budgeting
  * stays inside whole-stage codegen, no UDF boundary. */
case class TextBpeCount(child: Expression)
    extends Kernel(Kernels, "textBpeCount", LongType, returnNullable = false)
    with UnaryLike[Expression] {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "text_bpe_count"
}
