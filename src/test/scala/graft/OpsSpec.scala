package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, MultimodalOps, SimilarityOps, TextOps}

/** Training-data pipeline operators: sketches validated against their exact
  * counterparts (the property that matters at scale: no false "done"). */
class OpsSpec extends AnyFunSuite with SparkSpecBase {

  val dir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  /** documents + exact copies (dup positives) + near-copies (one word changed). */
  lazy val augmented = {
    val base = docs.select("doc_id", "text")
    val exact = docs.filter(col("doc_id") < 15)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val near = docs.filter(col("doc_id") < 15)
      .select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" zzzz")).as("text"))
    base.unionByName(exact).unionByName(near)
  }

  test("minhash LSH finds every exact duplicate pair (jaccard 1.0)") {
    val pairs = DedupOps.minhashLshPairs(augmented, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (i <- 0L until 15L)
      assert(pairs.contains((i, i + 10000)), s"exact dup pair ($i, ${i + 10000}) missed")
  }

  test("minhash LSH candidates achieve high recall vs exact jaccard at 0.7") {
    val exact = DedupOps.unigramJaccardPairs(augmented, 0.9) // unigram proxy ≈ high shingle overlap
    val gotExact = DedupOps.minhashLshPairs(augmented, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every near-dup (text + one token) must surface as an LSH candidate
    val nearPairs = (0L until 15L).map(i => (i, i + 20000))
    val found = nearPairs.count(gotExact.contains)
    assert(found >= 13, s"near-dup recall too low: $found/15")
  }

  test("minhash LSH never reports a pair below its verify threshold (no false positives)") {
    val got = DedupOps.minhashLshPairs(augmented, threshold = 0.8).collect()
    assert(got.forall(_.getDouble(2) >= 0.8), "verification stage must filter sub-threshold candidates")
  }

  test("minhash LSH results are a subset of exact n-gram jaccard pairs") {
    val exact = DedupOps.ngramJaccardPairs(augmented, 3, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashLshPairs(augmented, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH emitted pairs not in the exact set: ${lsh.diff(exact).take(5)}")
    assert(lsh.nonEmpty)
  }

  test("simhash: identical docs distance 0; near-dups within small distance") {
    val sh = DedupOps.simhash(augmented).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (i <- 0L until 15L) {
      assert(sh(i) == sh(i + 10000), s"identical text must give identical simhash ($i)")
      val d = java.lang.Long.bitCount(sh(i) ^ sh(i + 20000))
      assert(d <= 16, s"near-dup simhash distance too large: $d for doc $i")
    }
    val pairs = DedupOps.simhashPairs(augmented, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (i <- 0L until 15L) assert(pairs.contains((i, i + 10000)))
  }

  /** Planted clustered corpus: 20 tight clusters × 25 members. (The driver's
    * embeddings table is uniform random — same-label mean cosine ≈ 0.004 —
    * where NO sublinear ANN can beat sampling; recall is a property of
    * clustered data, so the property test plants clusters.) */
  lazy val planted = {
    import spark.implicits._
    val dim = 64
    val rows = for {
      c <- 0 until 20
      m <- 0 until 25
    } yield {
      val cr = new scala.util.Random(1000 + c)
      val center = Array.fill(dim)(cr.nextGaussian().toFloat)
      val mr = new scala.util.Random(c * 100 + m)
      val v = center.zip(Array.fill(dim)(mr.nextGaussian().toFloat * 0.15f)).map { case (a, b) => a + b }
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      (c * 25L + m, v.map(_ / n).toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("ANN (LSH) top-k recall ≥ 0.8 vs brute force on clustered data") {
    val qids = (0 until 8).map(_ * 25L) // one query per cluster
    val brute = SimilarityOps.bruteTopK(planted, qids, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SimilarityOps.lshTopK(planted, qids, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(ann.contains).toDouble / brute.size
    assert(recall >= 0.8, s"ANN recall $recall too low (got ${ann.size} pairs)")
  }

  test("ANN over the driver embeddings table runs end-to-end (plumbing smoke)") {
    val ann = SimilarityOps.lshTopK(emb, 0L until 8L, 5).collect()
    assert(ann.length == 40)
    assert(ann.forall(_.getInt(3) <= 5))
  }

  test("IVF ANN top-k recall ≥ 0.8 vs brute force on clustered data") {
    val qids = (0 until 8).map(_ * 25L)
    val brute = SimilarityOps.bruteTopK(planted, qids, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.ivfTopK(planted, qids, 5, nCentroids = 16, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall $recall too low (got ${ivf.size} pairs)")
  }

  test("IVF cells partition the corpus; index is deterministic") {
    val i1 = SimilarityOps.buildIvfIndex(planted, nCentroids = 8)
    val i2 = SimilarityOps.buildIvfIndex(planted, nCentroids = 8)
    assert(i1.centroids.map(_.toSeq) == i2.centroids.map(_.toSeq))
    val cells = i1.assigned.groupBy("cell").count().collect()
    assert(cells.map(_.getLong(1)).sum == 500)
    assert(cells.length > 1, "more than one populated cell")
    Seq(i1, i2).foreach(_.release())
  }

  test("IVF index persists: build once, probe twice identical, no k-means on probe") {
    val qids = (0 until 8).map(_ * 25L)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val built = SimilarityOps.buildIvfIndex(planted, nCentroids = 16)
    SimilarityOps.saveIvfIndex(built, dir)
    val loaded = SimilarityOps.loadIvfIndex(spark, dir)
    assert(loaded.centroids.map(_.toSeq) == built.centroids.map(_.toSeq))

    // count Spark jobs per probe: the probe phase must not re-run k-means
    // (each Lloyd iteration is a collect job; the probe is a plain query)
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val p1 = SimilarityOps.ivfProbe(loaded, qids, 5).collect()
      org.apache.spark.GraftSparkTestAccess.waitListenerBusEmpty(spark.sparkContext)
      val jobsProbe1 = jobCount.getAndSet(0)
      val p2 = SimilarityOps.ivfProbe(loaded, qids, 5).collect()
      org.apache.spark.GraftSparkTestAccess.waitListenerBusEmpty(spark.sparkContext)
      val jobsProbe2 = jobCount.getAndSet(0)
      assert(p1.map(_.toString).sorted.toSeq == p2.map(_.toString).sorted.toSeq,
        "repeated probes of one index must be identical")
      SimilarityOps.ivfTopK(planted, qids, 5, nCentroids = 16).collect()
      org.apache.spark.GraftSparkTestAccess.waitListenerBusEmpty(spark.sparkContext)
      val jobsRebuild = jobCount.get()
      assert(jobsProbe2 < jobsRebuild,
        s"probe ($jobsProbe2 jobs) must be cheaper than build+probe ($jobsRebuild jobs): no k-means re-run")
      // probe results match the one-shot path on the same parameters
      val oneShot = SimilarityOps.ivfTopK(planted, qids, 5, nCentroids = 16).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p1.map(r => (r.getLong(0), r.getLong(1))).toSet == oneShot)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("df cut: a token in every doc is dropped, join stays bounded, count surfaced") {
    import spark.implicits._
    // skew fixture: "boiler" appears in EVERY doc (the hot key that makes an
    // uncut token self-join quadratic); each doc also has unique tokens plus
    // one real dup pair
    val skew = (0L until 200L).map { i =>
      val uniq = s"u${i}a u${i}b u${i}c u${i}d"
      (i, s"boiler $uniq")
    } ++ Seq((9000L, "boiler shared words here now"), (9001L, "boiler shared words here now"))
    val df = skew.toDF("doc_id", "text")

    var dropped = -1L
    val pairs = DedupOps.unigramJaccardPairs(df, 0.5, maxDfFraction = 0.5,
      onDropped = dropped = _).collect()
    assert(dropped == 1L, s"exactly the ubiquitous token is cut (got $dropped)")
    // without "boiler", the only tokens shared between docs are the dup
    // pair's — the join produces just that pair instead of 202² candidates
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 9000L && pairs.head.getLong(1) == 9001L)
    assert(pairs.head.getDouble(2) == 1.0, "jaccard over the CUT sets (boiler excluded)")

    // cut disabled (fraction 1.0): boiler connects every doc pair that
    // clears the threshold only for the true dups, but candidate pairs blow
    // up — prove semantics differ only by the cut
    var dropped2 = -1L
    val uncut = DedupOps.unigramJaccardPairs(df, 0.5, maxDfFraction = 1.0,
      onDropped = dropped2 = _).collect()
    assert(dropped2 == -1L, "fraction >= 1.0 short-circuits: no df pass at all")
    assert(uncut.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((9000L, 9001L)))

    // ngram flavor: the cut drops every shingle of the boilerplate phrase
    // shared by all docs, keeping the dup pair intact
    val skew2 = (0L until 100L).map(i => (i, s"the same header line u$i x$i y$i")) ++
      Seq((9000L, "the same header line unique tail one"),
          (9001L, "the same header line unique tail one"))
    val pairs2 = DedupOps.ngramJaccardPairs(skew2.toDF("doc_id", "text"), 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs2 == Set((9000L, 9001L)))
  }

  test("exact dedup groups: identical text, same signature, min doc_id canonical") {
    val dups = DedupOps.exactDups(augmented).collect()
    assert(dups.length == 15)
    assert(dups.forall(_.getLong(2) == 2)) // each group: original + copy
    assert(dups.forall(_.getLong(1) < 15)) // canonical is the original
  }

  test("text fingerprints: stable, distinct across docs, golden value") {
    val fp = TextOps.fingerprint(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fp2 = TextOps.fingerprint(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp == fp2)
    assert(fp.values.toSet.size > 450, "fingerprints must be discriminative")
    // golden: rolling hash native expression pinned
    assert(graft.url.Urls.rollingHash64("abc") == ((1125899906842597L * 31 + 'a') * 31 + 'b') * 31 + 'c')
  }

  test("real BPE: merge-table encoding goldens + column expression") {
    import graft.ops.Bpe
    assert(Bpe.encodeWordCount("the") == 1)   // t,h→th; th,e→the
    assert(Bpe.encodeWordCount("scan") == 1)  // a,n→an; s,c→sc; sc,an→scan
    assert(Bpe.encodeWordCount("query") == 3) // e,r→er; er,y→ery ⇒ q,u,ery
    assert(Bpe.encodeWordCount("xyzzy") == 5) // nothing merges
    assert(Bpe.encodeWordCount("") == 0)
    assert(Bpe.countTokens("the scan  query") == 5)
    assert(Bpe.countTokens(null) == 0)
    // through the codegen'd expression over the real table
    val out = TextOps.bpeTokenCount(docs.limit(50)).collect()
    assert(out.length == 50 && out.forall(_.getLong(1) > 0))
    // the real count is <= char count and >= word count for these texts
    val one = TextOps.bpeTokenCount(
      spark.createDataFrame(Seq((1L, "the scan query"))).toDF("doc_id", "text"))
      .head().getLong(1)
    assert(one == 5)
  }

  test("real image-header decode: PNG/JPEG via ImageIO bytes, GIF/WebP handcrafted") {
    import MultimodalOps.decodeHeader
    def render(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    // real encoder output (JDK ImageIO), decoded by OUR header parser
    assert(decodeHeader(render("png", 37, 23)).contains(("png", 37, 23)))
    assert(decodeHeader(render("jpg", 41, 29)).contains(("jpeg", 41, 29)))
    assert(decodeHeader(render("gif", 17, 11)).contains(("gif", 17, 11)))
    // WebP lossy header (handcrafted VP8 chunk prefix)
    val webp = new Array[Byte](30)
    "RIFF".getBytes.copyToArray(webp, 0)
    "WEBPVP8 ".getBytes.copyToArray(webp, 8)
    webp(26) = 100; webp(27) = 0 // width LE14 = 100
    webp(28) = 60; webp(29) = 0  // height LE14 = 60
    assert(decodeHeader(webp).contains(("webp", 100, 60)))
    // non-image bytes: no header — the deterministic fake path handles them
    assert(decodeHeader("just some document text".getBytes).isEmpty)
    assert(decodeHeader(Array[Byte]()).isEmpty)
    // and through the batch decode: real images get real geometry
    import spark.implicits._
    val blobs = Seq((1L, render("png", 37, 23)), (2L, "plain text".getBytes))
      .toDF("doc_id", "blob")
    val out = MultimodalOps.decodeBlobs(blobs).collect().sortBy(_.doc_id)
    assert(out(0).format == "png" && out(0).width == 37 && out(0).height == 23)
    assert(out(1).width >= 64, "non-image blob takes the fake kernel")
  }

  test("multimodal decode stub: deterministic, typed, partition-local") {
    val meta = MultimodalOps.decodeBlobs(MultimodalOps.attachBlobs(docs)).collect()
    assert(meta.length == docs.count())
    assert(meta.forall(m => m.width >= 64 && m.width < 640 && m.height >= 64 && m.height < 480))
    assert(meta.forall(m => Set("png", "jpeg", "webp").contains(m.format)))
    val again = MultimodalOps.decodeBlobs(MultimodalOps.attachBlobs(docs)).collect()
    assert(meta.map(_.checksum).toSeq == again.map(_.checksum).toSeq)
  }

  test("quality + langGuess run over full table without nulls") {
    val q = TextOps.quality(docs)
    assert(q.filter(col("quality_score").isNull).count() == 0)
    val lg = TextOps.langGuess(docs)
    assert(lg.filter(col("lang_guess").isNull).count() == 0)
  }
}
