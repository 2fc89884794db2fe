package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.expressions.Expression

/** Registration + Column-level API for the graft native expressions.
  *
  * Functions are registered into the session's FunctionRegistry (idempotent,
  * safe to call per-query) so they work from both the Column API
  * (via call_function) and spark.sql text.
  */
object GraftFunctions {

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "url_canonicalize" -> ((es: Seq[Expression]) => UrlCanonicalize(es.head)),
    "url_canon_filter" -> ((es: Seq[Expression]) => UrlCanonFilter(es.head)),
    "url_host" -> ((es: Seq[Expression]) => HostOf(es.head)),
    "url_domain" -> ((es: Seq[Expression]) => RegisteredDomainOf(es.head)),
    "url_hash64" -> ((es: Seq[Expression]) => UrlHash64(es.head)),
    "url_hash_interleave" -> ((es: Seq[Expression]) => UrlHashInterleave(es.head)),
    "url_accept" -> ((es: Seq[Expression]) => UrlAccept(es.head)),
    "text_fingerprint64" -> ((es: Seq[Expression]) => TextFingerprint64(es.head)),
    "text_count_substr" -> ((es: Seq[Expression]) => TextCountSubstr(es(0), es(1))),
    "text_bpe_count" -> ((es: Seq[Expression]) => TextBpeCount(es.head)),
    "mime_resolve" -> ((es: Seq[Expression]) => MimeResolve(es(0), es(1))),
    "vec_dot" -> ((es: Seq[Expression]) => VecDot(es(0), es(1))),
    "text_shingles" -> ((es: Seq[Expression]) => TextShingles(es(0), es(1))),
    "text_simhash" -> ((es: Seq[Expression]) => TextSimhash(es.head)),
    "text_hash_set" -> ((es: Seq[Expression]) => TextHashSet(es(0), es(1))),
    "minhash_bands" -> ((es: Seq[Expression]) =>
      MinhashBands(es(0), constant(es(1)).toInt, constant(es(2)).toInt, constant(es(3)))),
    "sorted_intersect_size" -> ((es: Seq[Expression]) => SortedIntersectSize(es(0), es(1))),
    "url_surt" -> ((es: Seq[Expression]) => UrlSurt(es.head)),
    "url_tld" -> ((es: Seq[Expression]) => PublicSuffixOf(es.head))
  )

  /** The value of a constant integral argument (a literal in SQL text or
    * `lit(...)` in the Column API). */
  private def constant(e: Expression): Long = {
    require(e.foldable, s"${e.sql} must be a constant")
    e.eval().asInstanceOf[Number].longValue
  }

  // sessions already registered — createOrReplaceTempFunction WARNs on every
  // replace, so a per-query register() call must be a no-op after the first
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotent per-session registration (no registry WARN spam on repeats). */
  def register(spark: SparkSession): Unit = {
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) != null) return
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  // Column-level helpers (require register(spark) first in the session)
  def url_canonicalize(c: Column): Column = call_function("url_canonicalize", c)
  def url_canon_filter(c: Column): Column = call_function("url_canon_filter", c)
  def url_host(c: Column): Column = call_function("url_host", c)
  def url_domain(c: Column): Column = call_function("url_domain", c)
  def url_hash64(c: Column): Column = call_function("url_hash64", c)
  def url_hash_interleave(c: Column): Column = call_function("url_hash_interleave", c)
  def url_accept(c: Column): Column = call_function("url_accept", c)

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
