package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

object CorpusBench {
  /** The module each headline query exercises (where its operator lives). */
  val Modules: Map[String, String] = {
    val relational = Seq("q_scan_filter_project", "q_agg_stats", "q_inject_merge", "q_latest_wins",
      "q_generate_topn", "q_global_topn", "q_host_agg", "q_link_invert", "q_opic_distribute",
      "q_seen_antijoin", "q_dedup_keepbest", "q_state_transition", "q_events_window",
      "q_url_canonicalize", "q_registered_domain", "q_score_quantiles", "q_segment_merge",
      "q_mime_resolve", "q_adaptive_sort", "q_cc_reltag", "q_lang_field", "q_geoip")
    val text = Seq("q_token_count", "q_text_quality", "q_lang_guess", "q_doc_fingerprint",
      "q_bpeish_tokens", "q_bpe_tokens", "q_repetition")
    val dedup = Seq("q_dedup_exact", "q_ngram_jaccard", "q_minhash_lsh", "q_simhash_pairs",
      "q_neardup_clusters", "q_decontaminate")
    val similarity = Seq("q_embed_pairs", "q_embed_topk", "q_ann_lsh_topk", "q_ann_ivf_topk")
    relational.map(_ -> "queries.Relational").toMap ++ text.map(_ -> "ops.TextOps") ++
      dedup.map(_ -> "ops.DedupOps") ++ similarity.map(_ -> "ops.SimilarityOps") ++
      Seq("q_media_meta", "q_media_decode").map(_ -> "ops.MultimodalOps") ++
      Seq("q_stratified_sample", "q_pack_sequences").map(_ -> "ops.SampleOps") ++
      Map("q_parse_html" -> "parse.HtmlOps", "q_text_fingerprint64" -> "functions.GraftFunctions")
  }

  /** The benchmark's query set: every module of the headline set, the
    * DedupOps pipelines behind ROADMAP's set-similarity work, and the url
    * kernels the crawl's parse also uses. All 45 headline queries take about
    * 50 s in a fresh session on 4 cores, more than a run's share of the
    * benchmark's time budget. */
  val Sweep: Seq[String] = Seq(
    "q_agg_stats", "q_url_canonicalize", "q_registered_domain", "q_score_quantiles",
    "q_parse_html", "q_repetition", "q_text_fingerprint64", "q_ngram_jaccard", "q_minhash_lsh",
    "q_neardup_clusters", "q_embed_pairs", "q_media_decode", "q_stratified_sample")

  /** The least number of timed sweeps, after one untimed sweep. The first
    * sweep of a session is cold (about four times a warm one: class
    * loading, Spark code generation, JIT), and the next few are still
    * 5–20 % slower than the one after each while the JIT catches up. The
    * median of three timed sweeps is the session's third sweep unless a
    * burst of load on the shared box hit it; more sweeps would not fit the
    * benchmark's time budget. */
  val MinTimedSweeps = 3

  /** The smoke self-test's three queries: one relational, one `url` kernel,
    * one DedupOps pipeline. */
  val SmokeQueries: Seq[String] = Seq("q_agg_stats", "q_url_canonicalize", "q_minhash_lsh")

  /** True when `t` holds a floating-point or map value somewhere. */
  private def unstable(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => unstable(et)
    case StructType(fs) => fs.exists(f => unstable(f.dataType))
    case _ => false
  }

  /** A value rendered so that the row hash does not depend on map entry
    * order or on the last bits of a floating-point result (doubles are
    * hashed at float precision). */
  private def canonical(c: Column, t: DataType): Column = t match {
    case _ if !unstable(t) => c
    case DoubleType => c.cast(FloatType)
    case ArrayType(et, _) => transform(c, x => canonical(x, et))
    case StructType(fs) => struct(fs.toSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) => array_sort(transform(map_entries(c), e =>
      struct(canonical(e.getField("key"), kt).as("k"), canonical(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** Observe an order-independent digest of `df`'s rows (row count, sum and
    * xor of 64-bit row hashes) while the action that writes it runs. */
  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val cols = df.schema.fields.sortBy(_.name).toSeq
    val h = xxhash64(cols.map(f => canonical(col(f.name), f.dataType)): _*)
    val obs = Observation(s"digest_${name}_${System.nanoTime()}")
    (df.observe(obs, count(lit(1)).as("n"), sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("s"),
      bit_xor(h).as("x")), obs)
  }

  def digest(obs: Observation): String = {
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    val s = Option(m("s")).map(_.asInstanceOf[Long]).getOrElse(0L)
    val x = Option(m("x")).map(_.asInstanceOf[Long]).getOrElse(0L)
    f"$n:$s:$x%016x"
  }
}

/** corpus_queries: the headline queries over the benchmark's fixed corpus,
  * each written to a `noop` sink, in an order shuffled by the seed. */
final class CorpusBench(spark: SparkSession, benchDir: Path, seed: Long, ctx: RunContext,
                        dump: Option[String]) {
  import CorpusBench._

  private val queries = if (ctx.smoke) SmokeQueries else Sweep
  private val observedDigests = mutable.LinkedHashMap.empty[(String, String), String] // (corpus, query)
  private val expected = Seq("smoke", "corpus").map(c => c -> ctx.expectedDigests(c)).toMap
  private val rng = new scala.util.Random(seed)
  // the measured corpus (the smoke self-test measures and warms up on the small one)
  private val corpus = if (ctx.smoke) "smoke" else "corpus"

  private def dataDir(c: String): String = benchDir.resolve("data").resolve(c).toString

  /** One query as one operation: time to the sink, then the digest check. */
  private def once(name: String, traced: Boolean, over: String = corpus): Double = {
    var secs = Double.NaN
    ctx.attempt {
      def go(): Unit = {
        spark.sparkContext.setJobDescription(s"q:$name")
        try {
          val t0 = System.nanoTime()
          val (df, obs) = observed(SparkEntry.queries(name)(spark, dataDir(over)), name)
          df.write.mode("overwrite").format("noop").save()
          secs = (System.nanoTime() - t0) / 1e9
          observedDigests((over, name)) = digest(obs)
        } finally spark.sparkContext.setJobDescription(null)
      }
      if (traced) ctx.tracer.span(s"q:$name")(go()) else go()
      val got = observedDigests((over, name))
      expected(over).get(name) match {
        case Some(d) if d == got => None
        case Some(d) => Some(s"$name over $over: result digest $got, recorded $d")
        case None => Some(s"$name: no recorded digest for corpus $over")
      }
    }
    secs
  }

  private def sweep(traced: Boolean, over: String = corpus): (Double, Map[String, Double]) = {
    val order = rng.shuffle(queries)
    val t0 = System.nanoTime()
    val times = order.map(q => q -> once(q, traced, over)).toMap
    ((System.nanoTime() - t0) / 1e9, times)
  }

  /** Set-up: the corpus tables' file listing and schema, as each query's
    * first scan needs them. */
  private def register(): Unit =
    Files.list(Paths.get(dataDir(corpus))).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).foreach(p => spark.read.parquet(p.toString).schema)

  def run(): RunOutcome = {
    dump.foreach(d => return dumpOutputs(d))
    val setups = (1 to 3).map { _ =>
      val s = System.nanoTime()
      register()
      (System.nanoTime() - s) / 1e9
    }
    val w0 = System.nanoTime()
    queries.foreach(q => once(q, traced = false)) // the session's cold sweep, untimed
    val warmS = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[perfbench] warm-up: $warmS%.2f s")
    val setupS = ctx.sessionStartS + Stats.median(setups) + warmS

    ctx.probe.reset()
    val sweeps = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (sweeps.size < (if (ctx.smoke) 1 else MinTimedSweeps) || System.nanoTime() < deadline) {
      System.gc() // every timed sweep starts from the same heap state
      sweeps += (if (ctx.trace && sweeps.isEmpty) tracedSweep() else sweep(traced = false))
      System.err.println(f"[perfbench] sweep: ${sweeps.last._1}%.2f s (" +
        queries.map(q => f"$q ${sweeps.last._2(q)}%.2f").mkString(", ") + ")")
    }
    val cachePeakMb = ctx.probe.cachePeakMb
    if (ctx.trace) {
      // tracing overhead, on the warm smoke queries: untraced, then traced
      def pass(traced: Boolean): Double = SmokeQueries.map(q => once(q, traced, over = "smoke")).sum
      ctx.tracer.nextOp()
      val plain = pass(traced = false)
      ctx.layer("trace.overhead_ratio", pass(traced = true) / plain)
    }

    val perQuery = queries.map(q => q -> sweeps.map(_._2(q)).filterNot(_.isNaN))
      .collect { case (q, ts) if ts.nonEmpty => q -> Stats.median(ts) }
    ctx.report("sweep_s", Stats.median(sweeps.map(_._1)), "s")
    ctx.report("query_geomean_s", Stats.geomean(perQuery.map(_._2)), "s")
    ctx.report("sweeps", sweeps.size, "count")
    RunOutcome(setupS, opS = Stats.median(sweeps.map(_._1)),
      opGeomeanS = Stats.median(sweeps.map(s => Stats.geomean(s._2.values.filterNot(_.isNaN).toSeq))),
      cachePeakMb)
  }

  /** A traced sweep: one span per query; per-query and per-module times and
    * the module's Spark counters become the run's per-layer metrics. */
  private def tracedSweep(): (Double, Map[String, Double]) = {
    val probe = ctx.probe
    probe.reset()
    val gc0 = GcProbe.gcSeconds
    val op = ctx.tracer.nextOp()
    val (wall, times) = ctx.tracer.span("sweep")(sweep(traced = true))
    val self = ctx.tracer.selfSeconds(op)
    val perQuery = queries.map(q => s"q.$q.s" -> self.getOrElse(s"q:$q", 0.0))
    val perModule = queries.groupBy(Modules).toSeq.flatMap { case (m, qs) =>
      val t = probe.totals(d => qs.exists(q => d == s"q:$q"))
      Seq(s"$m.s" -> qs.map(q => self.getOrElse(s"q:$q", 0.0)).sum, s"$m.cpu_s" -> t.cpuS,
        s"$m.shuffle_mb" -> t.shuffleMb, s"$m.spill_mb" -> t.spillMb)
    }
    val querySum = perQuery.map(_._2).sum
    (perQuery ++ perModule ++ Seq("trace.unattributed_s" -> (wall - querySum),
      "trace.layer_sum_s" -> querySum) ++
      ComposedRound.engineLayers(probe.totals(_.startsWith("q:")), GcProbe.gcSeconds - gc0))
      .foreach { case (k, v) => ctx.layer(k, v) }
    (wall, times)
  }

  /** Writes every swept query's output over this run's corpus and the
    * DuckDB oracle SQL in the layout `tools/oracle_check.py` reads, plus the
    * observed digests. */
  private def dumpOutputs(dir: String): RunOutcome = {
    val oracles = SparkEntry.oracleSql
    Sweep.foreach { q =>
      val (df, obs) = observed(SparkEntry.queries(q)(spark, dataDir(corpus)), q)
      df.write.mode("overwrite").parquet(s"$dir/$q")
      observedDigests((corpus, q)) = digest(obs)
    }
    val json = Sweep.flatMap(q => oracles.get(q).map(sql =>
      "\"" + q + "\":\"" + sql.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""))
    Files.write(Paths.get(dir, "oracle_sql.json"), json.mkString("{", ",", "}").getBytes("UTF-8"))
    Files.write(Paths.get(dir, "digests.tsv"),
      observedDigests.map { case ((_, q), d) => s"$q\t$d\n" }.mkString.getBytes("UTF-8"))
    RunOutcome(0.0, 0.0, 0.0, 0.0)
  }
}
