package graft.functions

import org.apache.spark.sql.{Column, GraftColumns, SparkSession}
import org.apache.spark.sql.GraftColumns.{nary, unary}
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.url.{UrlChain, UrlFilter}

/** Column-level API for the graft native expressions, plus their SQL names.
  *
  * Engine code builds every kernel through the typed builders below: each
  * constructs its expression directly, with no function-registry lookup, so
  * no session needs any registration. The same expressions are also
  * registered by name for SQL text (`register`, idempotent per session); the
  * registry builds each one through its typed builder. User SQL goes through
  * [[sqlExpr]], which registers first.
  */
object GraftFunctions {

  def url_canonicalize(c: Column): Column = unary(c)(UrlCanonicalize)
  // the URL chain rides the expression itself (a codegen reference object);
  // the registered one-argument function is the empty chain
  def url_canon_filter(c: Column, chain: UrlChain = UrlChain.Empty): Column =
    unary(c)(UrlCanonFilter(_, chain))
  def url_accept(c: Column, filter: UrlFilter = UrlChain.Empty): Column =
    unary(c)(UrlAccept(_, filter))
  def url_host(c: Column): Column = unary(c)(HostOf)
  def url_domain(host: Column): Column = unary(host)(RegisteredDomainOf)
  def url_tld(host: Column): Column = unary(host)(PublicSuffixOf)
  def url_hash64(c: Column): Column = unary(c)(UrlHash64)
  def url_hash_interleave(c: Column): Column = unary(c)(UrlHashInterleave)
  def url_surt(c: Column): Column = unary(c)(UrlSurt)
  def mime_resolve(contentType: Column, url: Column): Column =
    nary(contentType, url)(es => MimeResolve(es(0), es(1)))
  def text_fingerprint64(c: Column): Column = unary(c)(TextFingerprint64)
  def text_count_substr(text: Column, needle: Column): Column =
    nary(text, needle)(es => TextCountSubstr(es(0), es(1)))
  def text_bpe_count(c: Column): Column = unary(c)(TextBpeCount)
  def text_shingles(text: Column, n: Column): Column =
    nary(text, n)(es => TextShingles(es(0), es(1)))
  def text_simhash(c: Column): Column = unary(c)(TextSimhash)
  def text_hash_set(text: Column, n: Column): Column =
    nary(text, n)(es => TextHashSet(es(0), es(1)))
  def minhash_bands(set: Column, numHashes: Int, bands: Int, seed: Long): Column =
    unary(set)(MinhashBands(_, numHashes, bands, seed))
  def sorted_intersect_size(a: Column, b: Column): Column =
    nary(a, b)(es => SortedIntersectSize(es(0), es(1)))
  def vec_dot(a: Column, b: Column): Column = nary(a, b)(es => VecDot(es(0), es(1)))

  /** Every kernel's SQL name and its typed builder over the argument columns. */
  private val kernels: Seq[(String, Seq[Column] => Column)] = Seq(
    ("url_canonicalize", a => url_canonicalize(a(0))),
    ("url_canon_filter", a => url_canon_filter(a(0))),
    ("url_host", a => url_host(a(0))),
    ("url_domain", a => url_domain(a(0))),
    ("url_hash64", a => url_hash64(a(0))),
    ("url_hash_interleave", a => url_hash_interleave(a(0))),
    ("url_accept", a => url_accept(a(0))),
    ("text_fingerprint64", a => text_fingerprint64(a(0))),
    ("text_count_substr", a => text_count_substr(a(0), a(1))),
    ("text_bpe_count", a => text_bpe_count(a(0))),
    ("mime_resolve", a => mime_resolve(a(0), a(1))),
    ("vec_dot", a => vec_dot(a(0), a(1))),
    ("text_shingles", a => text_shingles(a(0), a(1))),
    ("text_simhash", a => text_simhash(a(0))),
    ("text_hash_set", a => text_hash_set(a(0), a(1))),
    ("minhash_bands", a =>
      minhash_bands(a(0), constant(a(1)).toInt, constant(a(2)).toInt, constant(a(3)))),
    ("sorted_intersect_size", a => sorted_intersect_size(a(0), a(1))),
    ("url_surt", a => url_surt(a(0))),
    ("url_tld", a => url_tld(a(0)))
  )

  /** The value of a constant integral argument (a literal in SQL text). */
  private def constant(c: Column): Long = {
    val e = GraftColumns.expression(c)
    require(e.foldable, s"${e.sql} must be a constant")
    e.eval().asInstanceOf[Number].longValue
  }

  // sessions already registered — createOrReplaceTempFunction WARNs on every
  // replace, so a repeated register() call must be a no-op after the first
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Registers every kernel by name in `spark`, for SQL text (idempotent). */
  def register(spark: SparkSession): Unit = {
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) != null) return
    val registry = spark.sessionState.functionRegistry
    kernels.foreach { case (name, build) =>
      registry.createOrReplaceTempFunction(name,
        (es: Seq[Expression]) => GraftColumns.expression(build(es.map(GraftColumns.column))),
        "built-in")
    }
  }

  /** User SQL text (a config expression, a slice predicate) as a Column of
    * `spark`'s plans; the text may call every kernel by name. */
  def sqlExpr(spark: SparkSession, text: String): Column = {
    register(spark)
    org.apache.spark.sql.functions.expr(text)
  }

  /** Map union where the RIGHT side wins on key conflict and nulls read as
    * empty maps — duplicate keys are removed BEFORE map_from_entries (whose
    * default dedup policy throws). The single shared definition of the
    * reference's last-put-wins metadata merge (used by updatedb and the
    * outlink metadata relay — keep ONE semantics). */
  def map_concat_last_wins(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions._
    val empty = map_from_arrays(array().cast("array<string>"), array().cast("array<string>"))
    val aa = coalesce(a, empty)
    val bb = coalesce(b, empty)
    map_from_entries(concat(
      filter(map_entries(aa), e => !map_contains_key(bb, e.getField("key"))),
      map_entries(bb)))
  }
}
