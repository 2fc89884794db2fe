package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.DedupOps

/** Differential specs for the set-similarity core of DedupOps: the three
  * kernels (`text_hash_set`, `minhash_bands`, `sorted_intersect_size`)
  * against the column formulas they replace, the pair operators against the
  * inverted-index implementations they replaced, and the hash-injectivity
  * evidence that keeps the exact operators exact against raw-string oracles. */
class DedupSetSpec extends AnyFunSuite with SparkSpecBase {

  /** The sf0.001 and sf0.01 `documents` tables, read from their byte-exact
    * copies that the benchmark keeps in the repository. */
  private lazy val corpora = Seq("smoke", "corpus")
    .map(c => spark.read.parquet(s"perfbench/data/$c/documents.parquet").select("doc_id", "text"))

  private lazy val trickyTexts = {
    import spark.implicits._
    Seq(
      (1L, "plain three word text"),
      (2L, "  leading and trailing  "),
      (3L, "double  space   runs between"),
      (4L, ""),
      (5L, "   "),
      (6L, "one"),
      (7L, "two words"),
      (8L, "unicode café naïve 中文 token mix café"),
      (9L, "repeat repeat repeat repeat repeat"),
      (10L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
  }

  private def hashSet(n: Int): Column = call_function("text_hash_set", col("text"), lit(n))

  private def longSets(df: DataFrame, c: Column): Map[Long, Seq[Long]] =
    df.select(col("doc_id"), c).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap

  test("text_hash_set ≡ array_sort(array_distinct(transform(text_shingles, xxhash64)))") {
    for (n <- Seq(2, 3, 5); src <- corpora.head +: Seq(trickyTexts)) {
      val ref = array_sort(array_distinct(
        transform(call_function("text_shingles", col("text"), lit(n)), s => xxhash64(s))))
      val got = longSets(src, hashSet(n))
      assert(got == longSets(src, ref), s"hash sets differ at n=$n")
      assert(got.values.exists(s => s != null && s.nonEmpty))
    }
    // fewer than n tokens: the whole trimmed text is the one shingle
    val short = longSets(trickyTexts.filter(col("doc_id") === 7L), hashSet(5))(7L)
    assert(short.length == 1)
    // null text → null set
    assert(longSets(trickyTexts.filter(col("doc_id") === 10L), hashSet(3))(10L) == null)
  }

  test("text_hash_set with n = 1 ≡ the hashed docTokens set; blank text → empty set") {
    for (src <- corpora.head +: Seq(trickyTexts)) {
      val fromTokens = DedupOps.docTokens(src)
        .groupBy("doc_id").agg(array_sort(collect_list(xxhash64(col("token")))).as("set"))
      val got = longSets(src, hashSet(1))
      assert(got.filter { case (_, s) => s != null && s.nonEmpty } ==
        longSets(fromTokens, col("set")))
      val ref = array_sort(array_distinct(transform(
        filter(split(trim(col("text")), " "), t => length(t) > 0), t => xxhash64(t))))
      assert(got == longSets(src, ref))
    }
    val blank = longSets(trickyTexts.filter(col("doc_id").isin(4L, 5L)), hashSet(1))
    assert(blank.values.forall(_.isEmpty))
  }

  /** The aggregation form minhash_bands replaced: 64 min-columns over the
    * exploded hashes, then one xxhash64 chain per band. */
  private def refBands(sh: DataFrame, numHashes: Int, bands: Int, seed: Long): DataFrame = {
    val rows = numHashes / bands
    val mins = (0 until numHashes).map(i => min(xxhash64(col("sh"), lit(seed + i))).as(s"mh_$i"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until bands).map(b =>
        xxhash64((b * rows until (b + 1) * rows).map(i => col(s"mh_$i")): _*)): _*).as("buckets"))
  }

  private def refShingleHashes(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), explode(call_function("text_shingles", col("text"), lit(n))).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("sh")).distinct()

  test("minhash_bands ≡ min(xxhash64(sh, seed+i)) signatures + per-band xxhash64 chains") {
    for ((numHashes, bands, seed) <- Seq((64, 16, 42L), (12, 4, -7L)); src <- Seq(corpora.head, trickyTexts)) {
      val got = longSets(src, call_function("minhash_bands", hashSet(3),
        lit(numHashes), lit(bands), lit(seed)))
      val ref = longSets(refBands(refShingleHashes(src, 3), numHashes, bands, seed), col("buckets"))
      // docs with no shingle (null text) have no signature row in the aggregation form
      assert(got.filter(_._2 != null) == ref, s"bands differ at ($numHashes, $bands, $seed)")
    }
    // empty set → null; SQL text takes the constant shape arguments
    val row = spark.sql(
      "SELECT minhash_bands(text_hash_set('', 1), 64, 16, 42), size(minhash_bands(text_hash_set('a b c d', 3), 64, 16, 42))")
      .head()
    assert(row.isNullAt(0) && row.getInt(1) == 16)
  }

  test("sorted_intersect_size ≡ size(array_intersect(a, b)) on sorted distinct sets") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    def randSet(): Seq[Long] = {
      val pool = Seq(Long.MinValue, Long.MaxValue, 0L, -1L) ++ Seq.fill(30)(rng.nextInt(60).toLong - 30)
      rng.shuffle(pool).take(rng.nextInt(25)).distinct.sorted
    }
    val pairs = Seq.fill(300)((randSet(), randSet())) ++
      Seq((Seq.empty[Long], Seq(1L)), (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)), (Seq(-5L, 5L), Seq(-4L, 4L)))
    val rows = pairs.toDF("a", "b")
      .select(call_function("sorted_intersect_size", col("a"), col("b")), size(array_intersect(col("a"), col("b"))))
      .collect()
    assert(rows.forall(r => r.getInt(0) == r.getInt(1)))
    assert(rows.exists(_.getInt(0) > 2))
  }

  // ---- pair operators against the implementations they replaced ----

  /** The replaced df cut over distinct (doc_id, term) rows; the dropped count. */
  private def refCut(items: DataFrame, key: String, nDocs: Long, frac: Double): (DataFrame, Long) =
    if (frac >= 1.0) (items, -1L)
    else {
      val hot = items.groupBy(key).agg(count(lit(1)).as("df")).filter(col("df") > frac * nDocs).select(key)
      (items.join(hot, Seq(key), "left_anti"), hot.count())
    }

  /** The replaced inverted-index Jaccard: term self-join, per-pair counts,
    * two size joins. */
  private def refPairs(items: DataFrame, key: String, threshold: Double): DataFrame = {
    val sizes = items.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    items.as("a")
      .join(items.as("b"), col(s"a.$key") === col(s"b.$key") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("id_a", "sz_a"), "id_a")
      .join(sizes.toDF("id_b", "sz_b"), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** The replaced MinHash LSH: aggregated signatures, band self-join, then
    * verification through exploded-hash joins. */
  private def refMinhash(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = refShingleHashes(docs, 3)
    val buckets = refBands(sh, 64, 16, 42L)
      .select(col("doc_id"), posexplode(col("buckets")).as(Seq("band", "bucket")))
    val cand = buckets.as("x")
      .join(buckets.as("y"), col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b")).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    cand
      .join(sh.toDF("id_a", "sh_a"), "id_a")
      .join(sh.toDF("id_b", "sh_b"), "id_b")
      .filter(col("sh_a") === col("sh_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("id_a", "sz_a"), "id_a")
      .join(sizes.toDF("id_b", "sz_b"), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  private def triples(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Random documents over a skewed 40-word vocabulary (low word ids are
    * hot enough for the df cut to fire), with exact and one-edit copies so
    * every threshold has pairs on both sides, plus blank and null texts. */
  private lazy val randomDocs = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    def word(): String = s"w${(40 * math.pow(rng.nextDouble(), 2.5)).toInt}"
    val base = (0 until 150).map(i => i.toLong -> Seq.fill(3 + rng.nextInt(25))(word()))
    val copies = base.take(40).map { case (i, ws) =>
      val edited = ws.updated(rng.nextInt(ws.length), word())
      (i + 1000L) -> (if (i % 3 == 0) ws else if (i % 3 == 1) edited else edited :+ word())
    }
    ((base ++ copies).map { case (i, ws) => (i, ws.mkString(" ")) } ++
      Seq((5000L, ""), (5001L, "  "), (5002L, null.asInstanceOf[String]))).toDF("doc_id", "text")
  }

  test("set-core pair operators ≡ the inverted-index implementations on random sets") {
    val nDocs = randomDocs.count()
    for (t <- Seq(0.3, 0.5, 0.75); frac <- Seq(0.5, 1.0)) {
      var dropped = -1L
      val uni = triples(DedupOps.unigramJaccardPairs(randomDocs, t, frac, onDropped = dropped = _))
      val (toks, refDropped) = refCut(DedupOps.docTokens(randomDocs), "token", nDocs, frac)
      assert(uni == triples(refPairs(toks, "token", t)), s"unigram pairs differ at t=$t frac=$frac")
      assert(dropped == refDropped, s"unigram df cut count at t=$t frac=$frac")
      assert(uni.nonEmpty && (frac >= 1.0 || dropped > 0))
      for (n <- Seq(2, 3)) {
        var droppedN = -1L
        val ng = triples(DedupOps.ngramJaccardPairs(randomDocs, n, t, frac, onDropped = droppedN = _))
        val (sh, refDroppedN) = refCut(DedupOps.docShinglesRaw(randomDocs, n), "shingle", nDocs, frac)
        assert(ng == triples(refPairs(sh, "shingle", t)), s"$n-gram pairs differ at t=$t frac=$frac")
        assert(droppedN == refDroppedN, s"$n-gram df cut count at t=$t frac=$frac")
      }
      assert(triples(DedupOps.minhashLshPairs(randomDocs, t)) == triples(refMinhash(randomDocs, t)),
        s"minhash pairs differ at t=$t")
    }
    // the q_ngram_jaccard / q_minhash_lsh shapes over a real corpus
    val real = corpora.head
    val (sh, _) = refCut(DedupOps.docShinglesRaw(real, 3), "shingle", real.count(), 0.5)
    assert(triples(DedupOps.ngramJaccardPairs(real, 3, 0.5)) == triples(refPairs(sh, "shingle", 0.5)))
    assert(triples(DedupOps.minhashLshPairs(real, 0.5)) == triples(refMinhash(real, 0.5)))
  }

  test("boundary pair: J just below t whose round(J, 4) reaches t is kept") {
    import spark.implicits._
    // J = 2/3 = 0.66666… < t = 0.6667 = round(2/3, 4). The extra token gets
    // the smallest hash, so prefixes taken at t itself (lengths 1 and 1)
    // would miss the pair; the t − 1e-4 prefixes (2 and 1) keep it.
    def h(s: String): Long = {
      val b = s.getBytes("UTF-8")
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
    val extra = (0 until 1000).map(i => s"x$i").find(x => h(x) < math.min(h("alpha"), h("beta"))).get
    val docs = Seq((1L, s"alpha beta $extra"), (2L, "alpha beta")).toDF("doc_id", "text")
    val t = 0.6667
    val expected = Set((1L, 2L, 0.6667))
    assert(triples(DedupOps.unigramJaccardPairs(docs, t, maxDfFraction = 1.0)) == expected)
    assert(triples(refPairs(DedupOps.docTokens(docs), "token", t)) == expected)
  }

  test("64-bit hashes are injective on the sf0.001 and sf0.01 shingles (n = 1, 3)") {
    for (docs <- corpora; n <- Seq(1, 3)) {
      val terms = if (n == 1) DedupOps.docTokens(docs).select(col("token").as("s"))
                  else DedupOps.docShinglesRaw(docs, n).select(col("shingle").as("s"))
      val r = terms.agg(count_distinct(col("s")), count_distinct(xxhash64(col("s")))).head()
      assert(r.getLong(0) > 0 && r.getLong(0) == r.getLong(1),
        s"n=$n: ${r.getLong(0)} distinct strings, ${r.getLong(1)} distinct hashes")
      // the kernel's sets hold exactly those hashes
      val fromSets = DedupOps.docHashSets(docs, n).select(explode(col("set"))).distinct().count()
      assert(fromSets == r.getLong(1))
    }
  }
}
