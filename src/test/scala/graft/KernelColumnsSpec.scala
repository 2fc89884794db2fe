package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftColumns, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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

  val rows = Seq(
    ("HTTP://Www.Example.COM:80/a/../b.pdf?PHPSESSID=1#f", "www.example.com",
      "text/HTML; charset=UTF-8", "the quick brown fox jumps over the lazy dog the end",
      Seq(1.0f, 2.0f, 3.0f)),
    ("http://deep.proj.github.io/x", "a.b.site.co.uk", null, "a b a b  c", Seq(0.5f, -1.0f, 2.0f)),
    ("mailto:x@y.z", null, "application/octet-stream", "", Seq.empty[Float]),
    (null, null, null, null, null),
    ("http://h.example.com/page", "h.example.com", "text/plain", "c d", Seq(-2.0f)),
    ("http://h.example.com/doc.pdf", "h.example.com", null, "b c b", Seq(2.0f)))
  val text = col("text")
  /** Every registered kernel: its SQL name, typed builder and SQL text. */
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

  /** The seen-set probe, the one kernel with no SQL name. */
  def bloomProbe(): Column = {
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100)
    bloom.putLong(graft.url.Urls.hash64("http://deep.proj.github.io/x"))
    GraftColumns.unary(url_hash64(col("url")))(
      graft.functions.BloomMightContainLong(_, spark.sparkContext.broadcast(bloom)))
  }

  /** All 20 kernels: the registered ones and the seen-set probe. */
  def kernels: Seq[(String, Column)] =
    cases.map(c => (c._1, c._2)) :+ ("bloom_might_contain" -> bloomProbe())

  val schema = StructType(Seq("url", "host", "ct", "text").map(StructField(_, StringType)) :+
    StructField("emb", ArrayType(FloatType)))

  def resolved(d: DataFrame): Expression = d.queryExecution.analyzed match {
    case Project(Seq(Alias(e, _)), _) => e
    case other => fail(s"unexpected plan: $other")
  }

  test("every registered kernel: typed builder ≡ SQL-resolved expression, names and rows") {
    import spark.implicits._
    val df = rows.toDF("url", "host", "ct", "text", "emb")
    val session = spark.newSession()
    GraftFunctions.register(session)
    val registered = session.sessionState.functionRegistry.listFunction()
      .filterNot(FunctionRegistry.builtin.functionExists).map(_.funcName)
    assert(cases.map(_._1).sorted == registered.sorted, "one case per registered kernel")
    for ((name, typed, sql) <- cases) {
      val viaBuilder = df.select(typed)
      val viaSql = df.selectExpr(sql)
      assert(resolved(viaBuilder) == resolved(viaSql), name)
      assert(viaBuilder.columns.toSeq == viaSql.columns.toSeq, name)
      assert(viaBuilder.collect().toSeq == viaSql.collect().toSeq, name)
    }
  }

  test("every kernel keeps its result type and nullability") {
    val nullable = spark.createDataFrame(java.util.List.of[Row](), schema)
    val strict = spark.createDataFrame(java.util.List.of[Row](),
      StructType(schema.map(_.copy(nullable = false))))
    val longs = ArrayType(LongType, containsNull = false)
    // name -> (dataType, nullable over nullable inputs, nullable over non-null inputs)
    val want: Map[String, (DataType, Boolean, Boolean)] = Map(
      "url_canonicalize" -> (StringType, true, true),
      "url_canon_filter" -> (StringType, true, true),
      "url_host" -> (StringType, true, true),
      "url_domain" -> (StringType, true, true),
      "url_tld" -> (StringType, true, true),
      "url_surt" -> (StringType, true, true),
      "url_hash64" -> (LongType, true, false),
      "url_hash_interleave" -> (IntegerType, true, false),
      "url_accept" -> (BooleanType, true, false),
      "text_fingerprint64" -> (LongType, true, false),
      "text_count_substr" -> (LongType, true, false),
      "text_bpe_count" -> (LongType, true, false),
      "mime_resolve" -> (StringType, false, false),
      "vec_dot" -> (DoubleType, true, true),
      "text_shingles" -> (ArrayType(StringType, containsNull = false), true, false),
      "text_simhash" -> (LongType, true, true),
      "text_hash_set" -> (longs, true, false),
      "minhash_bands" -> (longs, true, true),
      "sorted_intersect_size" -> (IntegerType, true, false),
      "bloom_might_contain" -> (BooleanType, true, false))
    assert(kernels.map(_._1).toSet == want.keySet)
    for ((name, c) <- kernels) {
      val (dataType, overNullable, overStrict) = want(name)
      val e = resolved(nullable.select(c))
      val s = resolved(strict.select(c))
      assert(e.prettyName == name)
      assert((e.dataType, e.nullable, s.dataType, s.nullable) ==
        (dataType, overNullable, dataType, overStrict), name)
    }
  }

  test("every kernel: interpreted evaluation ≡ codegen, nulls included") {
    val input = rows.map(r => Row(r.productIterator.toSeq: _*))
    // the rows as stored, and as computed by a CASE WHEN over literals with
    // no ELSE: the generated value of its null rows is still the last
    // matched row's (only the null flag is set)
    def frames(session: SparkSession): Seq[DataFrame] = {
      val stored = session.createDataFrame(session.sparkContext.parallelize(input, 1), schema)
      val computed = session.range(0, input.size, 1, 1).select(schema.fields.toSeq.zipWithIndex.map {
        case (f, j) =>
          val branches = input.zipWithIndex.filterNot(_._1.isNullAt(j)).map { case (r, i) =>
            (col("id") === i, GraftColumns.column(Literal.create(r.get(j), f.dataType)))
          }
          branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
            case (c, (cond, v)) => c.when(cond, v)
          }.as(f.name)
      }: _*)
      Seq(stored, computed)
    }
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    for ((name, c) <- kernels; (compiledIn, plainIn) <- frames(spark).zip(frames(interpreted))) {
      val compiled = compiledIn.select(c)
      val plain = plainIn.select(c)
      assert(compiled.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]), name)
      assert(!plain.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]), name)
      val got = plain.collect().toSeq
      assert(got == compiled.collect().toSeq, name)
      assert(got.exists(_.isNullAt(0)) == resolved(plain).nullable, name)
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

  test("source guard: no hand-written codegen or interpreted twin in engine code") {
    val offenders = Files.walk(Paths.get("src/main/scala/graft")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if Seq("doGenCode", "defineCodeGen", "nullSafeEval", "def eval(")
              .exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
