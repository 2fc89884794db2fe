package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (array<float>).
  *
  *  - bruteTopK: exact cosine top-k for a (small, broadcast) query set —
  *    the correctness baseline. Dot products via zip_with + aggregate in
  *    strict left-to-right order (the DuckDB oracle mirrors the same order,
  *    so doubles agree bit-for-bit before rounding).
  *  - cosinePairs: all-pairs ≥ threshold, blocked to keep it exact-but-bounded.
  *  - lshTopK: random-hyperplane LSH buckets + exact re-rank inside the
  *    bucket — the scale path: query cost is bucket-local, not corpus-wide.
  */
object SimilarityOps {

  /** Strict left-to-right dot product of two array<float|double> columns (as
    * double) — the codegen'd VecDot kernel, IEEE-identical to the former
    * `aggregate(zip_with(...))` fold (HOFs are CodegenFallback: interpreted
    * per element; inside an all-pairs join that tax multiplies by the match
    * count). Callers must register GraftFunctions (every DataFrame-level
    * entry point here does). */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine in floor-scaled basis points: floor(cos × 10⁴) of the identical
    * IEEE double — engine-neutral (no round() path divergence). */
  def cosineBp(a: Column, b: Column): Column =
    floor(cosine(a, b) * 10000).cast("long")

  /** floor(bp) of a cosine assembled from a precomputed norm product —
    * the SAME IEEE ops as [[cosineBp]] (dot / (normA * normB) * 10⁴), with
    * the norms hoisted so each vector's norm is computed once per ROW
    * instead of once per PAIR (norms are O(dim) array folds — recomputing
    * them inside an all-pairs join multiplies the work by the match count). */
  private def cosineBpPre(dotCol: Column, normA: Column, normB: Column): Column =
    floor(dotCol / (normA * normB) * 10000).cast("long")

  /** Exact cosine top-k of each query vector (vec_id ∈ queryIds) against the
    * whole corpus. The query side is broadcast — no corpus shuffle. */
  def bruteTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val q = broadcast(
      emb.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          norm(col("embedding")).as("_qn")))
    val scored = emb
      .withColumn("_n", norm(col("embedding")))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_bp",
        cosineBpPre(dot(col("qe"), col("embedding")), col("_qn"), col("_n")))
    val w = Window.partitionBy("qid").orderBy(desc("cos_bp"), asc("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "vec_id", "cos_bp", "rnk")
  }

  /** All pairs with cosine ≥ threshold among vec_id < maxId (exact, bounded). */
  def cosinePairs(emb: DataFrame, threshold: Double, maxId: Long): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.filter(col("vec_id") < maxId)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        cosineBpPre(dot(col("a.embedding"), col("b.embedding")),
          col("a.nrm"), col("b.nrm")).as("cos_bp"))
      .filter(col("cos_bp") >= (threshold * 10000).toLong)
  }

  /** Deterministic pseudo-random hyperplanes: plane p, dim d weight from a
    * hash — avoids shipping a weight matrix; identical on every executor. */
  private def planeWeight(p: Int, d: Column, seed: Long): Column =
    (pmod(xxhash64(lit(seed), lit(p), d), lit(2001L)) - 1000L).cast("double") / 1000.0

  /** Sign-random-projection bucket id from `planes` hyperplanes. */
  def lshBucket(embCol: Column, planes: Int, seed: Long): Column = {
    val bits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(embCol, sequence(lit(0), size(embCol) - 1),
          (v, i) => v.cast("double") * planeWeight(p, i, seed)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Cosine of an embedding column against a fixed (driver-side) vector:
    * dot/norm against a literal array — stays in codegen. */
  private def cosineToLit(embCol: Column, v: Array[Double]): Column = {
    val vn = math.sqrt(v.map(x => x * x).sum)
    dot(embCol, typedLit(v.toSeq)) / (norm(embCol) * vn)
  }

  /** cosineToLit with the row norm precomputed in `nrmCol` — identical IEEE
    * ops (dot / (norm * vn)), but the O(dim) norm fold is evaluated once per
    * row instead of once per centroid. */
  private def cosineToLitPre(embCol: Column, nrmCol: Column, v: Array[Double]): Column = {
    val vn = math.sqrt(v.map(x => x * x).sum)
    dot(embCol, typedLit(v.toSeq)) / (nrmCol * vn)
  }

  /** Nearest-centroid id for every row (argmax over broadcast centroids).
    * `nrmCol` must hold norm(embCol) — hoisted by the caller so k centroids
    * share one norm evaluation. */
  private def nearestCentroid(embCol: Column, nrmCol: Column,
                              centroids: Seq[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosineToLitPre(embCol, nrmCol, c).as("cos"), lit(i).as("cid"))
    }
    // max struct = (highest cos, then highest cid) — deterministic argmax
    array_max(array(scored: _*)).getField("cid")
  }

  /** Attach the nearest-centroid cell, hoisting the row norm into its own
    * projection so it is computed once (CollapseProject keeps a non-cheap
    * alias referenced k times in its own Project). */
  private def withCell(emb: DataFrame, centroids: Seq[Array[Double]]): DataFrame =
    emb.withColumn("_nrm", norm(col("embedding")))
      .withColumn("cell", nearestCentroid(col("embedding"), col("_nrm"), centroids))
      .drop("_nrm")

  /** Quantize a centroid coordinate to the 1e-6 grid. Lloyd means are
    * computed by a distributed `avg` whose floating-point sum ORDER is not
    * deterministic across partition layouts (or engines); the ~1e-16
    * relative noise that reordering introduces would make index builds
    * unreproducible. Snapping to 1e-6 absorbs it — index builds become
    * bit-reproducible run-to-run (and engine-neutral, so the DuckDB oracle
    * can mirror the whole k-means), while sub-1e-6 centroid precision has
    * no measurable effect on assignment quality. */
  private def quantize(m: Double): Double = math.floor(m * 1e6) / 1e6

  /** IVF index build: deterministic seeding (lowest hash picks the initial
    * centroids) + a few Lloyd iterations, centroids recomputed distributed
    * (posexplode + per-dimension mean, quantized — see [[quantize]]) and
    * collected (k × dim doubles — driver-tiny). Returns (assigned vectors,
    * centroids). */
  def ivfIndex(emb: DataFrame, nCentroids: Int, iterations: Int = 3, seed: Long = 42L
              ): (DataFrame, Seq[Array[Double]]) = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    // the build makes iterations+2 passes over the corpus (seed pick, Lloyd
    // assignments, final assignment); persist so every pass after the first
    // reads cached columnar batches instead of re-scanning the source —
    // values are unchanged (same rows, same arithmetic), only the scan cost
    // amortizes. Spill-tolerant; build-once/probe-many callers keep it warm.
    val embP = persistSpillable(emb)
    val init = embP
      .withColumn("_h", xxhash64(col("vec_id"), lit(seed)))
      .orderBy(col("_h")).limit(nCentroids)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq

    var centroids = init
    var i = 0
    while (i < iterations) {
      val assigned = withCell(embP, centroids)
      val means = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("v")).as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      centroids = centroids.indices.map { c =>
        byCell.get(c) match {
          case Some(rows) =>
            val dim = rows.map(_.getInt(1)).max + 1
            val arr = new Array[Double](dim)
            rows.foreach(r => arr(r.getInt(1)) = quantize(r.getDouble(2)))
            arr
          case None => centroids(c) // empty cell keeps its centroid
        }
      }
      i += 1
    }
    (withCell(embP, centroids), centroids)
  }

  /** A built IVF index: cell-assigned vectors (a table — build once, probe
    * many) plus the k×dim centroid matrix (driver-tiny). Persist with
    * [[saveIvfIndex]] / [[loadIvfIndex]] so repeated queries never re-run
    * k-means; at corpus scale `assigned` is THE index table. */
  final case class IvfIndex(assigned: DataFrame, centroids: Seq[Array[Double]])

  /** Build the IVF index as persistable tables (k-means runs HERE, once). */
  def buildIvfIndex(emb: DataFrame, nCentroids: Int = 16, iterations: Int = 3,
                    seed: Long = 42L): IvfIndex = {
    val (assigned, centroids) = ivfIndex(emb, nCentroids, iterations, seed)
    IvfIndex(assigned, centroids)
  }

  /** Persist the index: assignments + centroid matrix as parquet tables. */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite").parquet(s"$path/assigned")
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .flatMap { case (c, cid) => c.zipWithIndex.map { case (v, pos) => (cid, pos, v) } }
      .toDF("cid", "pos", "v")
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val assigned = spark.read.parquet(s"$path/assigned")
    val rows = spark.read.parquet(s"$path/centroids").collect() // k×dim — driver-tiny
    val centroids = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      val arr = new Array[Double](rs.map(_.getInt(1)).max + 1)
      rs.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
      arr
    }
    IvfIndex(assigned, centroids)
  }

  /** Probe phase only — NO k-means: pick each query's nProbe nearest cells
    * from the centroid matrix, exact re-rank inside those cells. Query cost
    * ∝ corpus/nCentroids × nProbe, not corpus. */
  def ivfProbe(index: IvfIndex, queryIds: Seq[Long], k: Int, nProbe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(index.assigned.sparkSession)
    val assigned = index.assigned
    val cellScores = index.centroids.zipWithIndex.map { case (c, i) =>
      struct(cosineToLit(col("qe"), c).as("cos"), lit(i).as("cid"))
    }
    val q = broadcast(
      assigned.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .withColumn("_qn", norm(col("qe")))
        .withColumn("probe",
          explode(slice(reverse(array_sort(array(cellScores: _*))), 1, nProbe).getField("cid"))))
    val scored = assigned
      .withColumn("_n", norm(col("embedding")))
      .join(q, col("cell") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("cos_bp",
        cosineBpPre(dot(col("qe"), col("embedding")), col("_qn"), col("_n")))
    val w = Window.partitionBy("qid").orderBy(desc("cos_bp"), asc("vec_id"))
    scored.select("qid", "vec_id", "cos_bp").distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** IVF ANN top-k, one-shot convenience: build + probe. Repeated queries
    * should build the index once ([[buildIvfIndex]]/[[saveIvfIndex]]) and
    * call [[ivfProbe]] instead. */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
              nCentroids: Int = 16, nProbe: Int = 4, seed: Long = 42L): DataFrame =
    ivfProbe(buildIvfIndex(emb, nCentroids, seed = seed), queryIds, k, nProbe)

  /** ANN top-k: LSH-bucketed candidates re-ranked exactly. Queries see only
    * their own bucket (plus its hamming-1 neighbors for recall). */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
              planes: Int = 6, seed: Long = 42L): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val bucketed = emb.withColumn("bucket", lshBucket(col("embedding"), planes, seed))
    val probes = (0 until planes).map(p => col("bucket").bitwiseXOR(shiftleft(lit(1L), p))) :+ col("bucket")
    val q = broadcast(
      bucketed.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          norm(col("embedding")).as("_qn"),
          explode(array(probes: _*)).as("probe")))
    val scored = bucketed
      .withColumn("_n", norm(col("embedding")))
      .join(q, col("bucket") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("cos_bp",
        cosineBpPre(dot(col("qe"), col("embedding")), col("_qn"), col("_n")))
    val w = Window.partitionBy("qid").orderBy(desc("cos_bp"), asc("vec_id"))
    scored
      .select("qid", "vec_id", "cos_bp").distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }
}
