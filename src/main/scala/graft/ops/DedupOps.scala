package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Tiers, trading exactness for scale:
  *  - exact: hash-groupBy on the content digest, one shuffle.
  *  - set similarity: unigramJaccardPairs and ngramJaccardPairs (exact) and
  *    minhashLshPairs (approximate) share one core. Its per-document value
  *    is the sorted, distinct `array<bigint>` of the document's token or
  *    shingle hashes ([[docHashSets]], built row-local by the codegen'd
  *    `text_hash_set` kernel and cached). Every pair operator filters, then
  *    verifies:
  *      - exact Jaccard: prefix filtering on the sorted hash order;
  *      - MinHash: row-local `minhash_bands` signatures, then (band, bucket)
  *        self-joins — O(docs × hashes) plus bucket-local joins, never
  *        all-pairs;
  *      - verification ([[verified]]): one merge-intersect per candidate
  *        pair (`sorted_intersect_size`), set sizes from `size(set)`.
  *  - simhash: 64-bit fingerprints + chunk-banding for hamming ≤ k —
  *    near-dup at one long per doc.
  *
  * Hash identity: a token or shingle is its 64-bit XXH64 (seed 42). Over N
  * distinct shingles the chance that any two share a hash is at most
  * N(N−1)/2 · 2⁻⁶⁴ ≈ N²/2⁶⁵ (about 3·10⁻⁸ at N = 10⁶, 3·10⁻² at N = 10⁹).
  * Without a collision the hash-set Jaccard equals the raw-string Jaccard,
  * so the exact operators stay exact against their raw-string oracles
  * (DedupSetSpec checks injectivity over the sf0.001 and sf0.01 corpora).
  *
  * Contract: doc_id is unique per row (true of every corpus table). The set
  * is a function of one row's text, so two rows sharing an id are two
  * documents here, where a per-id distinct would have merged them.
  */
object DedupOps {

  /** Exact duplicate groups by content digest. */
  def exactDups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("sig"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Distinct (doc_id, token) pairs of whitespace tokens. */
  def docTokens(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()

  /** (doc_id, set): the sorted, distinct hashes of each document's word
    * n-grams (n = 1: its non-empty whitespace tokens), persisted. The plan
    * is the same for every call with the same (docs, n), so the n-gram,
    * MinHash and cluster queries over one corpus share one cached set. */
  def docHashSets(docs: DataFrame, n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    persistSpillable(docs.select(col("doc_id"),
      call_function("text_hash_set", col("text"), lit(n)).as("set")))
  }

  /** Document-frequency cut: drop terms present in more than
    * maxDfFraction × nDocs documents BEFORE the candidate self-join.
    *
    * Without it the self-join is quadratic in the hottest key: one
    * boilerplate shingle shared by a million pages joins 10^6 × 10^6 rows.
    * Ubiquitous terms contribute almost nothing to Jaccard (they appear in
    * both sets of nearly every pair), so cutting them bounds the join while
    * barely moving scores — the standard df/positional-filtering trade.
    * Hot hashes leave the sets before sizes and prefixes are taken, so
    * scores are over the cut sets.
    *
    * NOT silent: the dropped-term count is surfaced on a named spark
    * accumulator (`dedup_df_cut_dropped_<term>`) and returned via the
    * optional callback. maxDfFraction >= 1.0 disables the cut (df can never
    * exceed nDocs), skipping the count and the df pass entirely. The hot set
    * is by construction tiny (Σ df = total (doc, term) occurrences, so at
    * most avgTermsPerDoc / maxDfFraction terms exceed the cut), hence
    * collected and removed row-local. */
  private def dfCut(sets: DataFrame, term: String, maxDfFraction: Double,
                    onDropped: Long => Unit): DataFrame = {
    if (maxDfFraction >= 1.0) return sets
    val maxDf = maxDfFraction * sets.count()
    val hot = sets.select(explode(col("set")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .collect().map(_.getLong(0))
    val dropped = hot.length.toLong
    sets.sparkSession.sparkContext.longAccumulator(s"dedup_df_cut_dropped_$term").add(dropped)
    onDropped(dropped)
    if (dropped == 0L) sets
    else sets.withColumn("set", array_except(col("set"), typedLit(hot)))
  }

  /** Candidate pairs (id_a < id_b) → (id_a, id_b, jaccard) with
    * jaccard = round(|a ∩ b| / |a ∪ b|, 4) ≥ threshold, for pairs sharing at
    * least one element: one merge-intersect of the two sorted sets per pair,
    * sizes from size(set). */
  private def verified(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame = {
    def side(s: String) = sets.select(col("doc_id").as(s"id_$s"), col("set").as(s"set_$s"))
    cand.join(side("a"), "id_a").join(side("b"), "id_b")
      .select(col("id_a"), col("id_b"),
        call_function("sorted_intersect_size", col("set_a"), col("set_b")).as("inter"),
        (size(col("set_a")) + size(col("set_b"))).as("sz"))
      .filter(col("inter") > 0)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / (col("sz") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard pairs ≥ threshold over the (df-cut) n-gram hash sets.
    *
    * Candidates by prefix filtering: J(x, y) ≥ t implies
    * |x ∩ y| ≥ ⌈t·|x|⌉, and then under any one global order the first
    * |x| − ⌈t·|x|⌉ + 1 elements of x and of y share an element. The sorted
    * hash order is such an order, so the prefix is a row-local slice. The
    * output keeps round(J, 4) ≥ threshold, i.e. J ≥ threshold − 5·10⁻⁵, so
    * the prefixes are taken at threshold − 10⁻⁴ (slightly longer; still
    * exact, also against floating-point rounding of t·|x|). */
  private def setJaccardPairs(docs: DataFrame, n: Int, term: String, threshold: Double,
                              maxDfFraction: Double, onDropped: Long => Unit): DataFrame = {
    val sets = dfCut(docHashSets(docs, n), term, maxDfFraction, onDropped)
    val sz = size(col("set"))
    val prefixLen = greatest(sz - ceil(lit(threshold - 1e-4) * sz) + 1, lit(0)).cast("int")
    val pre = sets.select(col("doc_id"), explode(slice(col("set"), lit(1), prefixLen)).as("h"))
    val cand = pre.as("x")
      .join(pre.as("y"), col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    verified(cand, sets, threshold)
  }

  /** Exact unigram-Jaccard pairs ≥ threshold (a < b) over whitespace-token
    * sets; tokens above the df cut are dropped first (see [[dfCut]] — the
    * hot-key guard). */
  def unigramJaccardPairs(docs: DataFrame, threshold: Double,
                          maxDfFraction: Double = 0.5,
                          onDropped: Long => Unit = _ => ()): DataFrame =
    setJaccardPairs(docs, 1, "token", threshold, maxDfFraction, onDropped)

  /** Exploded (doc_id, shingle-string) pairs WITHOUT the distinct, through
    * the codegen'd TextShingles kernel (one byte scan per doc). */
  private def docShinglesExploded(docs: DataFrame, n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        explode(call_function("text_shingles", col("text"), lit(n))).as("shingle"))
  }

  /** Distinct (doc_id, shingle-string) pairs. */
  def docShinglesRaw(docs: DataFrame, n: Int): DataFrame =
    docShinglesExploded(docs, n).distinct()

  /** Exact word-n-gram Jaccard pairs ≥ threshold (the exact sibling of
    * minhashLshPairs); shingles above the df cut (shared boilerplate) are
    * dropped first. */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        maxDfFraction: Double = 0.5,
                        onDropped: Long => Unit = _ => ()): DataFrame =
    setJaccardPairs(docs, n, "shingle", threshold, maxDfFraction, onDropped)

  /** MinHash + banded LSH candidate pairs, verified against exact shingle
    * Jaccard ≥ threshold. bands × rowsPerBand must equal numHashes. The
    * i-th "permutation" is xxhash64(sh, seed+i) — re-hashing beats affine
    * (a*x+b) permutations here: better mixing, and no 64-bit multiply to
    * trip ANSI overflow checking. */
  def minhashLshPairs(
      docs: DataFrame,
      threshold: Double,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L
  ): DataFrame = {
    val sets = docHashSets(docs, shingleN)
    val buckets = sets.select(col("doc_id"), posexplode(call_function("minhash_bands",
      col("set"), lit(numHashes), lit(bands), lit(seed))).as(Seq("band", "bucket")))
    val cand = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    verified(cand, sets, threshold)
  }

  /** 64-bit SimHash per doc over token hashes weighted by frequency.
    *
    * A document's simhash is a pure function of its own tokens, so it is
    * computed ROW-LOCAL by the codegen'd TextSimhash kernel (one byte scan
    * per doc) — the former explode → 64-conditional-sum aggregation paid a
    * hash-aggregate probe per TOKEN occurrence plus a shuffle, to compute a
    * per-row value. Bit-identical fingerprints (differential-spec'd:
    * VecExpressionsSpec); docs with no non-empty token emit no row, same as
    * the aggregation form. Assumes unique doc_id per row (true of every
    * corpus table; the aggregation form merged duplicate ids instead). */
  def simhash(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), call_function("text_simhash", col("text")).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxDist, found via
    * 16-bit chunk banding (pigeonhole: ≤3 differing bits ⇒ ≥1 of 4 chunks
    * equal), then exact popcount verify. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val sh = simhash(docs)
    val chunks = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"), shiftright(col("simhash"), c * 16).bitwiseAND(0xffffL).as("v"))): _*)).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.c").as("c"), col("ch.v").as("v"))
    chunks.as("x")
      .join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb"))
      .distinct()
      .withColumn("dist", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Benchmark DECONTAMINATION: training documents sharing at least
    * `minHits` distinct word n-grams with a benchmark/eval set — the
    * standard "did the test set leak into the training data" sweep an
    * LLM pipeline runs before training. Returns (doc_id,
    * contaminated_ngrams) for every flagged doc; anti-join the result to
    * clean the corpus.
    *
    * Scale shape: the benchmark side is tiny by construction (eval sets
    * are thousands of docs, the corpus is billions), so its distinct
    * shingle set BROADCASTS — the corpus is touched by exactly one
    * map-side hash semi-join plus a per-doc partial aggregation, no
    * corpus self-join, no shuffle of corpus shingles. */
  def decontaminate(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 3,
      minHits: Int = 1): DataFrame = {
    val benchSh = docShinglesRaw(benchmark, n).select("shingle").distinct()
    // broadcast semi-join BEFORE the per-doc distinct: the corpus-wide
    // (doc_id, shingle) distinct would shuffle every shingle of every doc;
    // filtering against the broadcast bench set first is map-side, so only
    // contaminated shingles (a sliver of the corpus) ever reach a shuffle.
    // count(DISTINCT shingle) restores the exact distinct-hit semantics.
    docShinglesExploded(docs, n)
      .join(broadcast(benchSh), Seq("shingle"))
      .groupBy("doc_id")
      .agg(countDistinct(col("shingle")).as("contaminated_ngrams"))
      .filter(col("contaminated_ngrams") >= minHits)
  }

  /** Near-duplicate CLUSTERS from a similarity-pair table: connected
    * components over the pair graph, labelling every paired doc with the
    * minimum doc id of its component — the production step AFTER pair
    * generation (exact/Jaccard/MinHash/SimHash all emit pairs): keep
    * `doc_id == cluster_id`, drop the rest.
    *
    * Iterative min-label propagation as a DataFrame loop (the LinkRank
    * shape: persisted edges, localCheckpoint lineage cuts — each one
    * released once its successor is materialized — convergence by
    * changed-row count): label(n) ← min(label(n), min over neighbours'
    * labels) until a fixed point. Iterations needed = graph diameter —
    * tiny for near-dup graphs (components are quasi-cliques out of LSH
    * buckets, diameter ≈ 2-4), so the loop is a handful of
    * self-partitioned joins, never an all-pairs pass. Docs with no pair
    * never enter (they are their own canonical row by definition).
    * Throws if maxIter is hit before convergence (no silent partial
    * labels; raise maxIter for pathological chain graphs). */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIter: Int = 25): DataFrame = {
    val edges = persistSpillable(pairs
      .select(col(aCol).cast("long").as("n"), col(bCol).cast("long").as("m"))
      .union(pairs.select(col(bCol).cast("long").as("n"), col(aCol).cast("long").as("m")))
      .distinct())
    var labels = edges.groupBy(col("n"))
      .agg(least(min(col("m")), first(col("n"))).as("lbl"))
    var held: Option[DataFrame] = None // the live label checkpoint
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // each node pulls the smallest label among its neighbours, min'd with
      // its own label in ONE aggregation (own label rides the union with a
      // non-null marker column) — one join + one shuffle per iteration where
      // the pull-then-rejoin form paid a second labels join
      val cand = edges
        .join(labels.withColumnRenamed("n", "m"), Seq("m"))
        .select(col("n"), col("lbl"), lit(null).cast("long").as("own"))
        .unionByName(labels.select(col("n"), col("lbl"), col("lbl").as("own")))
      val next = cand.groupBy(col("n"))
        .agg(min(col("lbl")).as("lbl"), min(col("own")).as("prev"))
        .select(col("n"), col("lbl"), (col("lbl") < col("prev")).as("changed"))
        .localCheckpoint(true) // cut lineage, keep data distributed
      // the predecessor is superseded once its successor is materialized
      held.foreach(release)
      held = Some(next)
      converged = next.filter(col("changed")).isEmpty
      labels = next.select(col("n"), col("lbl"))
      iter += 1
    }
    edges.unpersist()
    require(converged, s"connectedComponents did not converge in $maxIter iterations")
    labels.select(col("n").as("doc_id"), col("lbl").as("cluster_id"))
  }
}
