package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.url.{UrlChain, UrlFilter, Urls}

/** Native Catalyst expressions for the URL hot path (SURVEY.md §4 "Custom
  * Catalyst inventory"). Each generates Java code calling the static
  * forwarders of the pure graft.url.Urls functions, so they participate in
  * whole-stage codegen (no UDF serialization boundary).
  */

/** Base for string → nullable-string expressions: the generated code calls
  * `callee` on the input string, interpreted evaluation `eval0`. */
abstract class StringFnExpr extends UnaryExpression {
  def eval0(s: String): String
  protected def callee(ctx: CodegenContext): String

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val r = eval0(v.asInstanceOf[UTF8String].toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val resultTerm = ctx.freshName("graftStr")
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      UTF8String ${ev.value} = null;
      if (!${childGen.isNull}) {
        String $resultTerm = ${callee(ctx)}(${childGen.value}.toString());
        if ($resultTerm != null) {
          ${ev.isNull} = false;
          ${ev.value} = UTF8String.fromString($resultTerm);
        }
      }""")
  }
}

/** A [[StringFnExpr]] backed by a static method. */
abstract class StaticStringExpr extends StringFnExpr {
  /** Fully-qualified static call, e.g. "graft.url.Urls.canonicalize". */
  def staticFn: String
  override protected def callee(ctx: CodegenContext): String = staticFn
}

/** Canonicalize a URL (null for unparseable). */
case class UrlCanonicalize(child: Expression) extends StaticStringExpr {
  override def staticFn: String = "graft.url.Urls.canonicalize"
  override def eval0(s: String): String = Urls.canonicalize(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_canonicalize"
}

/** Raw URL → crawl URL through `chain` (null = dropped); the empty chain is
  * canonicalize + the default filters. The chain is attached to the
  * generated class as a reference object (one call per row on the final
  * UrlChain, inside whole-stage codegen, like [[BloomMightContainLong]]'s
  * broadcast). */
case class UrlCanonFilter(child: Expression, chain: UrlChain = UrlChain.Empty)
    extends StringFnExpr {
  override protected def callee(ctx: CodegenContext): String =
    ctx.addReferenceObj("urlChain", chain, classOf[UrlChain].getName) + ".apply"
  override def eval0(s: String): String = chain(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "url_canon_filter"
}

/** Lowercase host of a URL. */
case class HostOf(child: Expression) extends StaticStringExpr {
  override def staticFn: String = "graft.url.Urls.hostOf"
  override def eval0(s: String): String = Urls.hostOf(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_host"
}

/** Registered domain of a host (public-suffix aware). */
case class RegisteredDomainOf(child: Expression) extends StaticStringExpr {
  override def staticFn: String = "graft.url.Urls.registeredDomainOf"
  override def eval0(s: String): String = Urls.registeredDomainOf(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_domain"
}

/** Public suffix (effective TLD) of a host — the reference's tld plugin
  * (src/plugin/tld TLDIndexingFilter uses URLUtil.getTopLevelDomain). */
case class PublicSuffixOf(child: Expression) extends StaticStringExpr {
  override def staticFn: String = "graft.url.PublicSuffix.publicSuffixOf"
  override def eval0(s: String): String = graft.url.PublicSuffix.publicSuffixOf(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_tld"
}

/** 64-bit URL-seen hash (MurmurHash2-64 of the canonical URL). */
case class UrlHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(v: Any): Any =
    Urls.hash64(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.url.Urls.hash64($c.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_hash64"
}

/** Position-weighted interleave hash (politeness spread sort key). */
case class UrlHashInterleave(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(v: Any): Any =
    Urls.interleaveHash(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.url.Urls.interleaveHash($c.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_hash_interleave"
}

/** 64-bit rolling-hash document fingerprint (h = 31*h + char), codegen'd.
  * The scale path for document fingerprinting: one pass, no tokenization. */
case class TextFingerprint64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(v: Any): Any =
    graft.url.Urls.rollingHash64(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.url.Urls.rollingHash64($c.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "text_fingerprint64"
}

/** Codegen'd bloom-membership probe over the broadcast URL-seen filter —
  * closes the last per-row UDF boundary on the update-sized hot paths
  * (UpdateDbColumnar link split, the round's bloom delta and stale-blob
  * reconcile in UrlSeen). The broadcast handle is attached to the generated class
  * as a reference object; each row costs one virtual call into the sketch,
  * inside whole-stage codegen. */
case class BloomMightContainLong(
    child: Expression,
    bloomBc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]
) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(v: Any): Any = bloomBc.value.mightContainLong(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("seenBloomBc", bloomBc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, c =>
      s"((org.apache.spark.util.sketch.BloomFilter)$bcRef.value()).mightContainLong($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "bloom_might_contain"
}

/** Content-type resolution: normalized header | by-URL-extension | default
  * (reference MimeUtil.autoResolveContentType). Binary, codegen'd. */
case class MimeResolve(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val ct = left.eval(input)
    val url = right.eval(input)
    UTF8String.fromString(graft.url.Mime.resolve(
      if (ct == null) null else ct.asInstanceOf[UTF8String].toString,
      if (url == null) null else url.asInstanceOf[UTF8String].toString))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      boolean ${ev.isNull} = false;
      UTF8String ${ev.value} = UTF8String.fromString(graft.url.Mime.resolve(
        ${l.isNull} ? null : ${l.value}.toString(),
        ${r.isNull} ? null : ${r.value}.toString()));""")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "mime_resolve"
}

/** SURT-form CDX urlkey (WarcCdxWriter's urlkey column). */
case class UrlSurt(child: Expression) extends StaticStringExpr {
  override def staticFn: String = "graft.url.Urls.surt"
  override def eval0(s: String): String = Urls.surt(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "url_surt"
}

/** URL filter predicate (true = keep); the empty chain is the default
  * filters. The filter is a reference object, like [[UrlCanonFilter]]'s
  * chain. */
case class UrlAccept(child: Expression, urlFilter: UrlFilter = UrlChain.Empty)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(v: Any): Any =
    urlFilter.accept(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val filterTerm = ctx.addReferenceObj("urlFilter", urlFilter, classOf[UrlFilter].getName)
    defineCodeGen(ctx, ev, c => s"$filterTerm.accept($c.toString())")
  }
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
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override protected def nullSafeEval(s: Any, n: Any): Any =
    TextNative.countSubstr(s.asInstanceOf[UTF8String], n.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) => s"graft.functions.TextNative.countSubstr($s, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "text_count_substr"
}

/** Merge-table BPE token count (graft.ops.Bpe): real tiktoken-style greedy
  * pair merging, codegen'd via the static forwarder — token budgeting
  * stays inside whole-stage codegen, no UDF boundary. */
case class TextBpeCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(v: Any): Any =
    graft.ops.Bpe.countTokens(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.Bpe.countTokens($c.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "text_bpe_count"
}
