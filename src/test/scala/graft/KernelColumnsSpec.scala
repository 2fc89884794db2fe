package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Crawl
import graft.fetch.SyntheticFetcher
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.CrawlConfig
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._

/** Engine code puts every graft kernel in a plan through the typed Column
  * builders, so it needs no session function registry; SQL text reaches the
  * same expressions through the registry. */
class KernelColumnsSpec extends AnyFunSuite with SparkSpecBase {

  val web = SyntheticWeb(WebConfig(nHosts = 4, pagesPerHost = 8))
  val cfg = CrawlConfig(topN = 100, maxPerHost = 20, numFetchPartitions = 2,
    serverDelayMs = 100, fetchLatencyMs = 5)

  /** One round of a fresh crawl in `session` over a new store root. */
  def crawl(session: SparkSession, root: String, c: CrawlConfig = cfg): Crawl =
    Crawl(session, root, c, SyntheticFetcher(web, c.fetchLatencyMs))

  def tmp(): String = Files.createTempDirectory("graft-kernels").toString

  test("every registered kernel: typed builder ≡ SQL-resolved expression, names and rows") {
    import spark.implicits._
    val df = Seq(
      ("HTTP://Www.Example.COM:80/a/../b.pdf?PHPSESSID=1#f", "www.example.com",
        "text/HTML; charset=UTF-8", "the quick brown fox jumps over the lazy dog the end",
        Seq(1.0f, 2.0f, 3.0f)),
      ("http://deep.proj.github.io/x", "a.b.site.co.uk", null, "a b a b  c", Seq(0.5f, -1.0f, 2.0f)),
      ("mailto:x@y.z", null, "application/octet-stream", "", Seq.empty[Float])
    ).toDF("url", "host", "ct", "text", "emb")
    val text = col("text")
    val cases: Seq[(String, Column, String)] = Seq(
      ("url_canonicalize", url_canonicalize(col("url")), "url_canonicalize(url)"),
      ("url_canon_filter", url_canon_filter(col("url")), "url_canon_filter(url)"),
      ("url_host", url_host(col("url")), "url_host(url)"),
      ("url_domain", url_domain(col("host")), "url_domain(host)"),
      ("url_hash64", url_hash64(col("url")), "url_hash64(url)"),
      ("url_hash_interleave", url_hash_interleave(col("url")), "url_hash_interleave(url)"),
      ("url_accept", url_accept(col("url")), "url_accept(url)"),
      ("text_fingerprint64", text_fingerprint64(text), "text_fingerprint64(text)"),
      ("text_count_substr", text_count_substr(text, lit("the")), "text_count_substr(text, 'the')"),
      ("text_bpe_count", text_bpe_count(text), "text_bpe_count(text)"),
      ("mime_resolve", mime_resolve(col("ct"), col("url")), "mime_resolve(ct, url)"),
      ("vec_dot", vec_dot(col("emb"), col("emb")), "vec_dot(emb, emb)"),
      ("text_shingles", text_shingles(text, lit(2)), "text_shingles(text, 2)"),
      ("text_simhash", text_simhash(text), "text_simhash(text)"),
      ("text_hash_set", text_hash_set(text, lit(1)), "text_hash_set(text, 1)"),
      ("minhash_bands", minhash_bands(text_hash_set(text, lit(2)), 8, 4, 42L),
        "minhash_bands(text_hash_set(text, 2), 8, 4, 42)"),
      ("sorted_intersect_size", sorted_intersect_size(text_hash_set(text, lit(1)),
        text_hash_set(text, lit(2))), "sorted_intersect_size(text_hash_set(text, 1), text_hash_set(text, 2))"),
      ("url_surt", url_surt(col("url")), "url_surt(url)"),
      ("url_tld", url_tld(col("host")), "url_tld(host)"))
    val session = spark.newSession()
    GraftFunctions.register(session)
    val registered = session.sessionState.functionRegistry.listFunction()
      .filterNot(FunctionRegistry.builtin.functionExists).map(_.funcName)
    assert(cases.map(_._1).sorted == registered.sorted, "one case per registered kernel")
    def resolved(d: DataFrame): Expression = d.queryExecution.analyzed match {
      case Project(Seq(Alias(e, _)), _) => e
      case other => fail(s"unexpected plan: $other")
    }
    for ((name, typed, sql) <- cases) {
      val viaBuilder = df.select(typed)
      val viaSql = df.selectExpr(sql)
      assert(resolved(viaBuilder) == resolved(viaSql), name)
      assert(viaBuilder.columns.toSeq == viaSql.columns.toSeq, name)
      assert(viaBuilder.collect().toSeq == viaSql.collect().toSeq, name)
    }
  }

  test("a crawl round in a fresh session registers no function") {
    val fresh = spark.newSession()
    import fresh.implicits._
    val c = crawl(fresh, tmp())
    c.inject(web.seedUrls.toDS())
    c.rounds(1)
    assert(c.frontier.count() > web.cfg.nHosts)
    assert(!fresh.catalog.functionExists("url_host"))
  }

  test("a round resumed in a fresh session evaluates a fetch-delay expression calling a kernel") {
    val root = tmp()
    val first = spark.newSession()
    import first.implicits._
    val c1 = crawl(first, root)
    c1.inject(web.seedUrls.toDS())
    c1.rounds(1)
    assert(c1.hostStats.nonEmpty)
    val resumed = crawl(spark.newSession(), root,
      cfg.copy(fetchDelayExpr = Some("CASE WHEN url_tld(host) = 'com' THEN 100 END")))
    assert(resumed.rounds(1).size == 1)
    assert(resumed.lastRound == 2)
  }

  test("source guard: no registry lookups or registrations in engine code") {
    val owner = Paths.get("src/main/scala/graft/functions/GraftFunctions.scala")
    val offenders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith(owner))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("call_function(") ||
              line.contains("GraftFunctions.register(") => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
