package graft.seen

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** URL-seen set (north rule: broadcast-merged bloom filter over
  * canonicalized-URL 64-bit hashes).
  *
  * Functionally replaces the reference's "join every discovered URL against
  * the whole CrawlDb" (which it does implicitly inside the updatedb
  * co-group). At 10^10 URLs the exact join is the bottleneck; the bloom
  * prefilter resolves the common case without touching the frontier:
  *
  *  - mightContain == false  ⇒ definitely NEW (bloom has no false negatives)
  *  - mightContain == true   ⇒ maybe seen → exact resolution against the
  *    frontier for just that (fpp-bounded) slice.
  *
  * Lifecycle in the round loop (see CrawlRound): built once from the
  * frontier by the first round, persisted as a SnapshotStore blob, loaded +
  * broadcast each round, and MERGED (bitwise OR of equal-shaped filters)
  * with a per-round bloom built over the merged frontier's bloom-missing
  * hashes (a filter over the round's checkpoint, not a rebuild). A round
  * whose frontier was committed after the blob (inject, sitemaps,
  * maintenance tools) first merges that frontier's missing hashes in the
  * same way. The filter is a SUPERSET of all URLs ever
  * seen (purged rows stay in), which is exactly the URL-seen semantics; a
  * false positive or a stale superset entry only routes a row through the
  * exact join path, never drops it.
  *
  * TWO REPRESENTATIONS behind one [[SeenSet]] seam:
  *
  *  - [[SeenFilter]] — one filter, one broadcast. `df.stat.bloomFilter`
  *    aggregates per-partition filters and merges on the driver — ~1.2 GB
  *    bits at 10^9 items / 1% fpp. Every round's delta merge re-broadcasts
  *    the WHOLE filter: O(bloom) network per round.
  *  - [[ShardedSeenFilter]] — the 10^10 path: k equal-shape shards, each
  *    its OWN broadcast. The initial build spreads the corpus by hash
  *    prefix (balanced shards); each round's delta merges into the
  *    LEAST-LOADED shard only, so a steady-state round re-broadcasts
  *    exactly ONE shard ≈ 1/k of the filter bytes — the other k-1
  *    broadcasts are reused as-is from the session cache. Membership is
  *    the OR over shards (codegen'd Or chain), so placement never affects
  *    correctness; per-shard fpp is fpp/k to keep the OR'd false-positive
  *    rate at the configured budget. Saturation (every shard past its
  *    capacity) degrades fpp, not correctness; the round loop rebuilds
  *    from the frontier at 2× capacity when it trips.
  */
object UrlSeen {

  /** The URL-seen seam the engine codes against: closure-side membership,
    * saturation state, and broadcast inventory (for lifecycle diffing). */
  sealed trait SeenSet extends Serializable {
    def mightContain(h: Long): Boolean
    def saturated: Boolean
    def approxInserted: Long
    /** Every broadcast this set holds (lifecycle: destroyDiff). */
    def broadcasts: Seq[Broadcast[BloomFilter]]
    /** Registry name for the codegen'd probe (unique per broadcast set). */
    private[seen] def probeName: String
    /** Probe expression over a child column. */
    private[seen] def probeExpr(
        child: org.apache.spark.sql.catalyst.expressions.Expression
    ): org.apache.spark.sql.catalyst.expressions.Expression
    /** Reset the total inserted estimate (monotone bookkeeping after the
      * frontier count is observed). */
    def withApproxInserted(n: Long): SeenSet
  }

  case class SeenFilter(bloom: Broadcast[BloomFilter], expectedItems: Long,
                        fpp: Double, approxInserted: Long) extends SeenSet {
    override def mightContain(h: Long): Boolean = bloom.value.mightContainLong(h)
    override def saturated: Boolean = approxInserted > expectedItems
    override def broadcasts: Seq[Broadcast[BloomFilter]] = Seq(bloom)
    override private[seen] def probeName: String = s"graft_seen_mc_${bloom.id}"
    override private[seen] def probeExpr(
        child: org.apache.spark.sql.catalyst.expressions.Expression) =
      graft.functions.BloomMightContainLong(child, bloom)
    override def withApproxInserted(n: Long): SeenSet = copy(approxInserted = n)
    /** Release the broadcast's executor + driver storage AND the filter's
      * temp-function registration. Prefer [[UrlSeen.destroyDiff]] when a
      * successor set may share broadcasts. */
    def destroy(): Unit = {
      UrlSeen.dropRegistration(probeName)
      bloom.destroy()
    }
  }

  /** k equal-shape shards; delta merges touch exactly one shard. */
  case class ShardedSeenFilter(shards: IndexedSeq[SeenFilter],
                               perShardCap: Long, shardFpp: Double) extends SeenSet {
    override def mightContain(h: Long): Boolean = {
      var i = 0
      while (i < shards.length) {
        if (shards(i).bloom.value.mightContainLong(h)) return true
        i += 1
      }
      false
    }
    override def approxInserted: Long = shards.map(_.approxInserted).sum
    /** Saturated only when EVERY shard is past capacity (the delta always
      * targets the least-loaded shard, so the min is the binding one). */
    override def saturated: Boolean = shards.map(_.approxInserted).min > perShardCap
    override def broadcasts: Seq[Broadcast[BloomFilter]] = shards.map(_.bloom)
    override private[seen] def probeName: String =
      s"graft_seen_mc_${shards.map(_.bloom.id).mkString("_")}"
    override private[seen] def probeExpr(
        child: org.apache.spark.sql.catalyst.expressions.Expression) =
      shards.map(s => graft.functions.BloomMightContainLong(child, s.bloom)
        : org.apache.spark.sql.catalyst.expressions.Expression)
        .reduceLeft(org.apache.spark.sql.catalyst.expressions.Or(_, _))
    override def withApproxInserted(n: Long): SeenSet = {
      // the corpus is hash-spread at build time, so pin the total as an even
      // per-shard estimate (monotone: never lower a shard's own count)
      val per = n / shards.length
      copy(shards = shards.map(s => s.copy(approxInserted = math.max(s.approxInserted, per))))
    }
    private[seen] def minIdx: Int = {
      var mi = 0; var i = 1
      while (i < shards.length) {
        if (shards(i).approxInserted < shards(mi).approxInserted) mi = i
        i += 1
      }
      mi
    }
  }

  /** Build + broadcast the bloom over a url_hash column. `shards` > 1
    * builds the sharded representation: the corpus is spread by hash prefix
    * (pmod(url_hash, k)) into k balanced equal-shape shards, each sized
    * expectedItems/k at fpp/k. The k-pass build over the 8-byte hash
    * projection runs once per crawl (and on saturation rebuilds) — the
    * per-round path never rebuilds. */
  def build(frontier: DataFrame, expectedItems: Long, fpp: Double,
            approxInserted: Long = -1L, shards: Int = 1): SeenSet = {
    val spark = frontier.sparkSession
    if (shards <= 1) {
      // stat.bloomFilter NPEs on zero rows: an empty frontier starts blank
      val bf =
        if (frontier.isEmpty) BloomFilter.create(expectedItems, fpp)
        else frontier.stat.bloomFilter("url_hash", expectedItems, fpp)
      val n = if (approxInserted >= 0) approxInserted else 0L
      SeenFilter(spark.sparkContext.broadcast(bf), expectedItems, fpp, n)
    } else {
      val perShardCap = math.max(1L, (expectedItems + shards - 1) / shards)
      val shardFpp = fpp / shards
      val keys = frontier.select(col("url_hash"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = if (approxInserted >= 0) approxInserted else 0L
      val perShardN = total / shards
      val built = (0 until shards).map { i =>
        val slice = keys.filter(pmod(col("url_hash"), lit(shards.toLong)) === i)
        // stat.bloomFilter NPEs on empty input: empty shards start blank
        val bf =
          if (slice.isEmpty) BloomFilter.create(perShardCap, shardFpp)
          else slice.stat.bloomFilter("url_hash", perShardCap, shardFpp)
        SeenFilter(spark.sparkContext.broadcast(bf), perShardCap, shardFpp, perShardN)
      }
      keys.unpersist()
      ShardedSeenFilter(built.toIndexedSeq, perShardCap, shardFpp)
    }
  }

  /** Merge `updates` (url_hash column; the round's delta — update-sized,
    * NOT frontier-sized) into the existing set. Returns a NEW set: the live
    * broadcasts are never mutated (the delta filter absorbs the old bits),
    * so any in-flight plan holding the old SeenSet keeps observing exactly
    * the pre-merge bits. Sharded sets replace ONLY the least-loaded shard's
    * broadcast — the other k-1 broadcasts are shared with the predecessor
    * (destroyDiff protects them). The caller destroys the superseded set
    * via [[destroyDiff]] once its last consumer has materialized. */
  def merged(spark: SparkSession, seen: SeenSet, updates: DataFrame,
             updateCount: Long): SeenSet = seen match {
    case sf: SeenFilter =>
      if (updates.isEmpty) sf // stat.bloomFilter NPEs on zero rows
      else {
        val add = updates.stat.bloomFilter("url_hash", sf.expectedItems, sf.fpp)
        add.mergeInPlace(sf.bloom.value) // mutates only the round-local filter
        SeenFilter(spark.sparkContext.broadcast(add), sf.expectedItems, sf.fpp,
          sf.approxInserted + updateCount)
      }
    case sh: ShardedSeenFilter =>
      if (updates.isEmpty) sh
      else {
        val idx = sh.minIdx
        val active = sh.shards(idx)
        val add = updates.stat.bloomFilter("url_hash", sh.perShardCap, sh.shardFpp)
        add.mergeInPlace(active.bloom.value)
        val fresh = SeenFilter(spark.sparkContext.broadcast(add), sh.perShardCap,
          sh.shardFpp, active.approxInserted + updateCount)
        sh.copy(shards = sh.shards.updated(idx, fresh))
      }
  }

  /** Destroy every broadcast (and the probe registration) of `old` that the
    * `successor` does not share. THE lifecycle primitive: single filters
    * destroy their one broadcast unless reused; sharded filters keep the
    * k-1 shards the successor still holds. */
  def destroyDiff(old: SeenSet, successor: SeenSet): Unit = {
    if (old eq successor) return
    if (old.probeName != successor.probeName) dropRegistration(old.probeName)
    val keep = successor.broadcasts
    old.broadcasts.foreach { b =>
      if (!keep.exists(_ eq b)) b.destroy()
    }
  }

  // ---- in-session broadcast cache ----
  //
  // At 10^9 URLs the filter is ~1.2 GB: re-reading the blob and re-broadcasting
  // it EVERY round is O(bloom) I/O + network where the round's delta is tiny.
  // Sequential rounds in one session instead reuse the live broadcasts: the
  // cache holds at most ONE set per store root, keyed by the committed
  // blob's identity (path + commit timestamp) so any out-of-band blob change
  // (resetTo replay, Bench blob restore, another writer) safely misses and
  // reloads. Superseded broadcasts are destroyed on replacement via
  // destroyDiff — shards shared with the replacement survive.
  private final case class CacheKey(path: String, committedAtMs: Long)
  private val sessionCache =
    new java.util.concurrent.ConcurrentHashMap[String, (CacheKey, SeenSet)]()
  private[graft] val cacheHits = new java.util.concurrent.atomic.AtomicLong(0)

  /** The cached set for this store root, iff it matches the committed
    * blob identity. */
  def cachedFor(root: String, blobPath: String, committedAtMs: Long): Option[SeenSet] = {
    Option(sessionCache.get(root)).collect {
      case (k, sf) if k == CacheKey(blobPath, committedAtMs) =>
        cacheHits.incrementAndGet(); sf
    }
  }

  /** Install `sf` as the root's cached set; destroys the displaced
    * broadcasts not shared with `sf`. */
  def cacheFor(root: String, blobPath: String, committedAtMs: Long, sf: SeenSet): Unit = {
    val prev = sessionCache.put(root, (CacheKey(blobPath, committedAtMs), sf))
    if (prev != null) destroyDiff(prev._2, sf)
  }

  /** Drop (and destroy) the root's cached set, if any. */
  def invalidate(root: String): Unit = {
    val prev = sessionCache.remove(root)
    if (prev != null) {
      dropRegistration(prev._2.probeName)
      prev._2.broadcasts.foreach(_.destroy())
    }
  }

  // ---- blob (SnapshotStore) serialization: versioned envelope ----
  private val Magic = 0x47424c4d // "GBLM"

  def toBytes(seen: SeenSet): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(Magic)
    seen match {
      case sf: SeenFilter =>
        out.writeInt(1) // version 1: single filter
        out.writeLong(sf.expectedItems)
        out.writeDouble(sf.fpp)
        out.writeLong(sf.approxInserted)
        sf.bloom.value.writeTo(out)
      case sh: ShardedSeenFilter =>
        out.writeInt(2) // version 2: k hash-spread shards, length-prefixed
        out.writeInt(sh.shards.length)
        out.writeLong(sh.perShardCap)
        out.writeDouble(sh.shardFpp)
        sh.shards.foreach { s =>
          out.writeLong(s.approxInserted)
          // length-prefix each shard: BloomFilter.readFrom over-reads when
          // several filters share one stream, so each gets its own frame
          val shardBytes = new ByteArrayOutputStream()
          s.bloom.value.writeTo(shardBytes)
          val arr = shardBytes.toByteArray
          out.writeInt(arr.length)
          out.write(arr)
        }
    }
    out.flush()
    bos.toByteArray
  }

  def fromBytes(spark: SparkSession, bytes: Array[Byte]): SeenSet = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(in.readInt() == Magic, "not a url-seen bloom blob")
    in.readInt() match {
      case 1 =>
        val expected = in.readLong()
        val fpp = in.readDouble()
        val inserted = in.readLong()
        val bf = BloomFilter.readFrom(in)
        SeenFilter(spark.sparkContext.broadcast(bf), expected, fpp, inserted)
      case 2 =>
        val k = in.readInt()
        val perShardCap = in.readLong()
        val shardFpp = in.readDouble()
        val shards = (0 until k).map { _ =>
          val inserted = in.readLong()
          val len = in.readInt()
          val arr = new Array[Byte](len)
          in.readFully(arr)
          val bf = BloomFilter.readFrom(new ByteArrayInputStream(arr))
          SeenFilter(spark.sparkContext.broadcast(bf), perShardCap, shardFpp, inserted)
        }
        ShardedSeenFilter(shards.toIndexedSeq, perShardCap, shardFpp)
      case v => throw new IllegalArgumentException(s"unknown url-seen blob version $v")
    }
  }

  /** Codegen'd bloom-membership probe (native Catalyst expression, not a
    * UDF): registered per set under a broadcast-unique name so lazily
    * analyzed plans never observe a later filter's builder; sharded sets
    * probe as an Or chain over the shard filters — still whole-stage
    * codegen. The registration is tracked and dropped when the set is
    * destroyed, so the registry stays flat across rounds. */
  def mightContainCol(spark: SparkSession, seen: SeenSet, c: Column): Column = {
    val name = seen.probeName
    // idempotent per (name, session): re-probing an already-registered set
    // must not re-register (the registry WARNs "replaced a previously
    // registered function" on every replace)
    if (registrations.put(name, spark) ne spark) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name,
        (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          seen.probeExpr(es.head),
        "built-in")
    }
    call_function(name, c)
  }

  // probe registry name → owning session; entries removed (and the function
  // dropped) when the owning set is destroyed
  private val registrations =
    new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()

  private[seen] def dropRegistration(name: String): Unit = {
    val spark = registrations.remove(name)
    if (spark != null) {
      try spark.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name))
      catch { case _: Exception => () } // session already stopped: nothing to drop
    }
  }

  /** Live probe registrations (test observability: must stay ≤ live sets). */
  def registrationCount: Int = registrations.size

  /** Split candidates (must carry url_hash) into definitely-new rows plus the
    * exactly-resolved maybe-seen survivors. `frontierKeys` is the frontier
    * projected to url_hash (column pruning keeps the scan 8 bytes/row). */
  def filterUnseen(candidates: DataFrame, seen: SeenSet, frontierKeys: DataFrame): DataFrame = {
    val spark = candidates.sparkSession
    val mightContain = mightContainCol(spark, seen, col("url_hash"))
    val definitelyNew = candidates.filter(!mightContain)
    val maybeSeen = candidates.filter(mightContain)
    val resolved = maybeSeen.join(frontierKeys.select(col("url_hash")).distinct(),
      Seq("url_hash"), "left_anti")
    definitelyNew.unionByName(resolved)
  }
}
