package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the vector / shingle / simhash hot paths.
  *
  * Spark's higher-order functions (transform / zip_with / aggregate) are
  * CodegenFallback: every array element evaluates through interpreted lambda
  * variables with per-element boxing. A 64-dim dot product inside an
  * all-pairs join, or 3-gram shingling of every document, pays that
  * interpreter tax once per element per row — these kernels run the same
  * arithmetic as one static JVM call per row inside whole-stage codegen.
  *
  * EXACTNESS CONTRACT: each kernel reproduces the HOF formula it replaces
  * bit-for-bit (same IEEE accumulation order, same null semantics, same
  * token/byte boundaries) — asserted by differential specs
  * (VecExpressionsSpec) against the original column formulas.
  */
object VecNative {

  /** Strict left-to-right dot product — the exact twin of
    * `aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)),
    *            0.0, (acc, v) => acc + v)`:
    * zip_with pads unequal lengths with nulls and any null product nulls the
    * whole fold, so: null on length mismatch or any null element, else the
    * ascending-index sum of double products (float widens exactly). */
  def dot(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Word n-gram shingles — the exact twin of
    * `transform(sequence(0, greatest(size(toks) - n, 0)),
    *            i => concat_ws(" ", slice(toks, i + 1, n)))`
    * over `toks = split(trim(text), " ")`.
    *
    * Key identity: split on the single-space regex and re-join with a single
    * space reconstructs the original bytes, so shingle i is exactly the byte
    * span of the trimmed text from the start of token i to the end of token
    * min(i+n-1, m-1) — no per-token strings, no HOF lambda evaluation, one
    * byte scan plus m-n+1 zero-copy slices over one copied buffer. */
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val b = s.trim().getBytes // trim = StringTrim: ASCII 0x20 both ends
    val len = b.length
    // token boundaries: starts(i) and ends(i) in byte offsets. A 0x20 byte
    // never occurs inside a multi-byte UTF-8 sequence, so byte scanning is
    // codepoint-safe. split(_, " ", -1) yields (#spaces + 1) tokens, empties
    // included — exactly the runs between space bytes.
    var m = 1
    var i = 0
    while (i < len) { if (b(i) == 0x20) m += 1; i += 1 }
    val starts = new Array[Int](m)
    val ends = new Array[Int](m)
    var t = 0
    var start = 0
    i = 0
    while (i <= len) {
      if (i == len || b(i) == 0x20) {
        starts(t) = start; ends(t) = i; t += 1; start = i + 1
      }
      i += 1
    }
    val count = math.max(m - n, 0) + 1
    val out = new Array[Any](count)
    var k = 0
    while (k < count) {
      val e = ends(math.min(k + n - 1, m - 1))
      out(k) = UTF8String.fromBytes(b, starts(k), e - starts(k))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over whitespace tokens — the exact twin of
    *   toks = split(trim(text), " ") filtered non-empty
    *   th = xxhash64(token)                         (catalyst XXH64, seed 42)
    *   s_b = Σ_tokens (bit b of th ? +1 : -1)
    *   fp  = OR of (1 << b) where s_b > 0
    * s_b > 0 ⟺ 2·ones_b > total. Null when no non-empty token exists (the
    * aggregation form emitted no row for such docs). One row per doc_id is
    * the caller's contract (doc ids are unique in every corpus table). */
  def simhash64(s: UTF8String): java.lang.Long = {
    val b = s.trim().getBytes
    val len = b.length
    val ones = new Array[Long](64)
    var total = 0L
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || b(i) == 0x20) {
        val tl = i - start
        if (tl > 0) {
          val h = XXH64.hashUnsafeBytes(
            b, Platform.BYTE_ARRAY_OFFSET + start, tl, 42L)
          total += 1
          var bit = 0
          while (bit < 64) { ones(bit) += (h >>> bit) & 1L; bit += 1 }
        }
        start = i + 1
      }
      i += 1
    }
    if (total == 0L) return null
    var fp = 0L
    var bit = 0
    while (bit < 64) { if (2L * ones(bit) > total) fp |= 1L << bit; bit += 1 }
    fp
  }

  /** Sorted, distinct 64-bit hash set of a text's word n-grams — the exact
    * twin of
    * `array_sort(array_distinct(transform(text_shingles(text, n), s -> xxhash64(s))))`
    * for n ≥ 2. For n = 1 the elements are the hashes of the non-empty
    * whitespace tokens (the DedupOps.docTokens contract: empty tokens from
    * runs of spaces are dropped, and a blank text gives the empty set).
    *
    * Each element is catalyst XXH64 (seed 42) of the shingle's UTF-8 bytes,
    * hashed in place over the text's own buffer: shingle k is the byte span
    * from the start of token k to the end of token min(k+n-1, m-1) of the
    * trimmed text (see [[shingles]]), so no shingle string is ever built.
    * Ascending signed order, as array_sort orders bigint. */
  def hashSet(s: UTF8String, n: Int): ArrayData = {
    require(n >= 1, s"n-gram size must be positive, got $n")
    val base = s.getBaseObject
    val off = s.getBaseOffset
    def at(i: Int): Byte = Platform.getByte(base, off + i)
    // trim = StringTrim: ASCII 0x20 both ends
    var lo = 0
    var hi = s.numBytes
    while (lo < hi && at(lo) == 0x20) lo += 1
    while (hi > lo && at(hi - 1) == 0x20) hi -= 1
    var m = 1
    var i = lo
    while (i < hi) { if (at(i) == 0x20) m += 1; i += 1 }
    // token t spans [starts(t), starts(t + 1) - 1)
    val starts = new Array[Int](m + 1)
    var t = 1
    i = lo
    while (i < hi) { if (at(i) == 0x20) { starts(t) = i + 1; t += 1 }; i += 1 }
    starts(0) = lo
    starts(m) = hi + 1
    val count = math.max(m - n, 0) + 1
    val hs = new Array[Long](count)
    var d = 0
    var k = 0
    while (k < count) {
      val start = starts(k)
      val end = starts(math.min(k + n, m)) - 1
      if (n > 1 || end > start) {
        hs(d) = XXH64.hashUnsafeBytes(base, off + start, end - start, 42L)
        d += 1
      }
      k += 1
    }
    java.util.Arrays.sort(hs, 0, d)
    var u = 0
    k = 0
    while (k < d) {
      if (u == 0 || hs(k) != hs(u - 1)) { hs(u) = hs(k); u += 1 }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (u == count) hs else java.util.Arrays.copyOf(hs, u))
  }

  /** MinHash band buckets of a hash set — the exact twin of the
    * aggregation form over the set's exploded elements `sh`:
    *   mh_i = min(xxhash64(sh, seed + i))                 for i < numHashes
    *   bucket_b = xxhash64(mh_{b·r}, …, mh_{b·r+r-1})     r = numHashes / bands
    * (catalyst XXH64 with seed 42 chained through each argument, as
    * HashOracles.minhashLshSql mirrors). The min over a set equals the min
    * over any multiset of the same elements, so the signature is row-local.
    * XXH64.hashLong(sh, 42), the first link of every chain, does not
    * depend on i and is computed once per element. Null for an empty set
    * (the aggregation form has no row to take a min over). */
  def minhashBands(set: ArrayData, numHashes: Int, bands: Int, seed: Long): ArrayData = {
    val len = set.numElements()
    if (len == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var k = 0
    while (k < len) {
      val h = XXH64.hashLong(set.getLong(k), 42L)
      var i = 0
      while (i < numHashes) {
        val v = XXH64.hashLong(seed + i, h)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      k += 1
    }
    val rows = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var i = b * rows
      while (i < (b + 1) * rows) { h = XXH64.hashLong(mins(i), h); i += 1 }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** |a ∩ b| of two sorted, distinct bigint arrays (the [[hashSet]] shape)
    * by one merge pass — equal to `size(array_intersect(a, b))` on such
    * inputs, without the hash set array_intersect builds per row. */
  def intersectSize(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
}

/** Codegen'd strict left-to-right dot product of two float/double arrays
  * (see [[VecNative.dot]] for the exactness contract). */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) null
    else VecNative.dot(a.asInstanceOf[ArrayData], isFloat(left),
      b.asInstanceOf[ArrayData], isFloat(right))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val box = ctx.freshName("vecDot")
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${l.isNull} && !${r.isNull}) {
        java.lang.Double $box = graft.functions.VecNative.dot(
          ${l.value}, ${isFloat(left)}, ${r.value}, ${isFloat(right)});
        if ($box != null) { ${ev.isNull} = false; ${ev.value} = $box.doubleValue(); }
      }""")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "vec_dot"
}

/** Codegen'd word n-gram shingling (see [[VecNative.shingles]]). */
case class TextShingles(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable
  override protected def nullSafeEval(s: Any, n: Any): Any =
    VecNative.shingles(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) => s"graft.functions.VecNative.shingles($s, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "text_shingles"
}

/** Codegen'd 64-bit token SimHash (see [[VecNative.simhash64]]); null when
  * the text has no non-empty token. */
case class TextSimhash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else VecNative.simhash64(v.asInstanceOf[UTF8String])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val box = ctx.freshName("simhash")
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = true;
      long ${ev.value} = 0L;
      if (!${c.isNull}) {
        java.lang.Long $box = graft.functions.VecNative.simhash64(${c.value});
        if ($box != null) { ${ev.isNull} = false; ${ev.value} = $box.longValue(); }
      }""")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "text_simhash"
}

/** Codegen'd sorted distinct n-gram hash set (see [[VecNative.hashSet]]). */
case class TextHashSet(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable
  override protected def nullSafeEval(s: Any, n: Any): Any =
    VecNative.hashSet(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) => s"graft.functions.VecNative.hashSet($s, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "text_hash_set"
}

/** Codegen'd row-local MinHash band buckets of a hash set (see
  * [[VecNative.minhashBands]]); null for a null or empty set. The shape
  * arguments are constants, fixed when the expression is built. */
case class MinhashBands(child: Expression, numHashes: Int, bands: Int, seed: Long)
    extends UnaryExpression {
  require(numHashes > 0 && bands > 0 && numHashes % bands == 0,
    s"bands ($bands) must divide numHashes ($numHashes)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else VecNative.minhashBands(v.asInstanceOf[ArrayData], numHashes, bands, seed)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${c.isNull}) {
        ${ev.value} = graft.functions.VecNative.minhashBands(
          ${c.value}, $numHashes, $bands, ${seed}L);
      }
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "minhash_bands"
}

/** Codegen'd merge intersection size of two sorted distinct bigint arrays
  * (see [[VecNative.intersectSize]]). */
case class SortedIntersectSize(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecNative.intersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecNative.intersectSize($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "sorted_intersect_size"
}
