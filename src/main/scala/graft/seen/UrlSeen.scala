package graft.seen

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Or}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter

import graft.frontier.CrawlConfig
import graft.store.TableStore

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
  * ONE REPRESENTATION: a [[SeenSet]] is k ≥ 1 equal-shape shards, each its
  * own broadcast (`seenBloomShards`, default 1). One shard is the classic
  * single filter: `BloomFilter.create(expectedItems, fpp)` parameters, so the
  * same bits as `df.stat.bloomFilter`, ~1.2 GB at 10^9 items / 1% fpp, and
  * every round's delta merge re-broadcasts all of it. With k shards (the
  * 10^10 path) the build spreads the corpus by hash prefix (pmod(url_hash,
  * k)) into balanced shards of expectedItems/k at fpp/k, so the OR'd
  * false-positive rate stays at the configured budget; each round's delta
  * merges into the LEAST-LOADED shard only, so a steady-state round
  * re-broadcasts ~1/k of the filter bytes and reuses the other k-1
  * broadcasts. Membership is the OR over shards (a codegen'd Or chain — a
  * single probe at k = 1), so placement never affects correctness.
  * Saturation (every shard past its capacity) degrades fpp, not
  * correctness; [[open]] rebuilds from the frontier at 2× capacity.
  *
  * Lifecycle in the round loop: [[open]] before the updatedb merge, and
  * [[advance]] after the merged frontier is committed. The set is built once
  * from the frontier by the first round, persisted as a SnapshotStore blob,
  * reused from the session cache (or loaded) each round, and MERGED
  * (bitwise OR of equal-shaped filters) with a per-round bloom over the
  * merged frontier's bloom-missing hashes (a filter over the round's
  * checkpoint, not a rebuild). A round whose frontier was committed after
  * the blob (inject, sitemaps, maintenance tools) first merges that
  * frontier's missing hashes in the same way. The filter is a SUPERSET
  * of all URLs ever seen (purged rows stay in), which is exactly the
  * URL-seen semantics; a false positive or a stale superset entry only
  * routes a row through the exact join path, never drops it.
  */
object UrlSeen {

  /** One shard: its broadcast filter and an estimate of the hashes in it. */
  final case class Shard(bloom: Broadcast[BloomFilter], approxInserted: Long)

  /** The URL-seen set the engine codes against: closure-side membership,
    * saturation state and broadcast inventory (for lifecycle diffing).
    * Every shard is sized `perShardCap` items at `shardFpp`. */
  final case class SeenSet(shards: IndexedSeq[Shard], perShardCap: Long, shardFpp: Double) {
    def mightContain(h: Long): Boolean = {
      var i = 0
      while (i < shards.length) {
        if (shards(i).bloom.value.mightContainLong(h)) return true
        i += 1
      }
      false
    }
    def approxInserted: Long = shards.map(_.approxInserted).sum
    /** Saturated only when EVERY shard is past capacity (the delta always
      * targets the least-loaded shard, so the min is the binding one). */
    def saturated: Boolean = shards.map(_.approxInserted).min > perShardCap
    /** Every broadcast this set holds (lifecycle: destroyDiff). */
    def broadcasts: Seq[Broadcast[BloomFilter]] = shards.map(_.bloom)
    /** Reset the total inserted estimate once the frontier count is known.
      * The corpus is hash-spread at build time, so the total pins an even
      * per-shard estimate (monotone: never lowers a shard's own count). */
    def withApproxInserted(n: Long): SeenSet = {
      val per = n / shards.length
      copy(shards = shards.map(s => s.copy(approxInserted = math.max(s.approxInserted, per))))
    }
    private[seen] def probeExpr(child: Expression): Expression =
      shards.map(s => graft.functions.BloomMightContainLong(child, s.bloom): Expression)
        .reduceLeft(Or(_, _))
    /** The shard a delta merges into. */
    private[seen] def leastLoaded: Int = shards.indices.minBy(shards(_).approxInserted)
  }

  /** A filter over `df`'s url_hash column, or None when `df` has no rows
    * (`stat.bloomFilter` NPEs on zero rows). */
  private def bloomOf(df: DataFrame, items: Long, fpp: Double): Option[BloomFilter] =
    if (df.isEmpty) None else Some(df.stat.bloomFilter("url_hash", items, fpp))

  /** Build + broadcast the set over a url_hash column: `shards` equal-shape
    * shards, the corpus spread by pmod(url_hash, shards), each sized
    * expectedItems/shards at fpp/shards (empty shards start blank). The
    * build runs once per crawl (and on saturation rebuilds) — the per-round
    * path never rebuilds. */
  def build(frontier: DataFrame, expectedItems: Long, fpp: Double,
            approxInserted: Long = -1L, shards: Int = 1): SeenSet = {
    val k = math.max(1, shards)
    val cap = math.max(1L, (expectedItems + k - 1) / k)
    val shardFpp = fpp / k
    // each shard reads the 8-byte projection once: cache it when several do
    val keys = frontier.select(col("url_hash"))
    if (k > 1) keys.persist(StorageLevel.MEMORY_AND_DISK)
    val perShard = math.max(0L, approxInserted) / k
    val built = (0 until k).map { i =>
      val bf = bloomOf(keys.filter(pmod(col("url_hash"), lit(k.toLong)) === i), cap, shardFpp)
        .getOrElse(BloomFilter.create(cap, shardFpp))
      Shard(frontier.sparkSession.sparkContext.broadcast(bf), perShard)
    }
    keys.unpersist()
    SeenSet(built, cap, shardFpp)
  }

  /** Merge `updates` (url_hash column; the round's delta — update-sized,
    * NOT frontier-sized) into the least-loaded shard. Returns a NEW set:
    * the live broadcasts are never mutated (the delta filter absorbs the
    * old shard's bits), so any in-flight plan holding the old set keeps
    * observing exactly the pre-merge bits; the other k-1 broadcasts are
    * shared with the predecessor. Empty updates return `seen` itself. The
    * caller destroys the superseded set via [[destroyDiff]] once its last
    * consumer has materialized. */
  def merged(spark: SparkSession, seen: SeenSet, updates: DataFrame,
             updateCount: Long): SeenSet =
    bloomOf(updates, seen.perShardCap, seen.shardFpp).fold(seen) { add =>
      val i = seen.leastLoaded
      val target = seen.shards(i)
      add.mergeInPlace(target.bloom.value) // mutates only the round-local filter
      seen.copy(shards = seen.shards.updated(i,
        Shard(spark.sparkContext.broadcast(add), target.approxInserted + updateCount)))
    }

  /** Destroy every broadcast of `old` that the `successor` does not share —
    * THE lifecycle primitive: a merge keeps the k-1 shards the successor
    * still holds. */
  def destroyDiff(old: SeenSet, successor: SeenSet): Unit = {
    if (old eq successor) return
    val keep = successor.broadcasts
    old.broadcasts.foreach { b =>
      if (!keep.exists(_ eq b)) b.destroy()
    }
  }

  // ---- the round's lifecycle ----

  /** The round's set, opened before its updatedb merge; None when the bloom
    * is off. Session cache → blob → build from `frontier` (the round's
    * start snapshot): the cached set when it matches the committed blob,
    * else the blob decoded, else a fresh build. A saturated set is rebuilt
    * from the frontier at 2× its inserted count. A blob committed before
    * the frontier snapshot (inject, the sitemap stage or a maintenance
    * tool wrote the frontier since; those writers know nothing of the
    * bloom) first merges in the frontier's bloom-missing hashes — without
    * that the merge would take their URLs, rediscovered as outlinks, for
    * new ones and insert duplicate rows. A `resetTo` needs no merge: the
    * snapshot it makes current keeps its own commit time, and every blob
    * committed after that time is a superset of its rows. The opened set
    * becomes the store's cached set; every broadcast it replaced is
    * destroyed. */
  def open(spark: SparkSession, store: TableStore, cfg: CrawlConfig,
           frontier: DataFrame): Option[SeenSet] =
    if (!cfg.useSeenBloom) None
    else {
      val blob = store.current("seen_bloom")
      val cached = blob.flatMap(b => cachedFor(store.root, b.path, b.committedAtMs))
      val loaded = cached.orElse(store.loadBlob("seen_bloom").map(fromBytes(spark, _)))
      val keys = frontier.select(col("url_hash"))
      val set = loaded match {
        case Some(s) if !s.saturated =>
          val stale = blob.exists(b => store.current("frontier").exists(_.committedAtMs > b.committedAtMs))
          if (stale) merged(spark, s, keys.filter(!mightContainCol(spark, s, col("url_hash"))), 0L)
          else s
        case other =>
          val cap = other.fold(cfg.bloomExpectedItems)(s =>
            math.max(cfg.bloomExpectedItems, s.approxInserted * 2))
          build(keys, cap, cfg.bloomFpp, shards = cfg.seenBloomShards)
      }
      // a decoded blob is not cached yet: release what the set replaced
      if (cached.isEmpty) loaded.foreach(destroyDiff(_, set))
      // with no blob committed the set is cached under a key no lookup matches
      cacheFor(store.root, blob.fold("")(_.path), blob.fold(-1L)(_.committedAtMs), set)
      Some(set)
    }

  /** Close the round: merge the committed merged frontier's bloom-missing
    * hashes into `seen` (zero rows in a steady-state round — no
    * re-broadcast), commit the blob at `round`, and make the result the
    * store's cached set, destroying every superseded broadcast it does not
    * share. `frontier` should be materialized: the delta is a filter over
    * it. */
  def advance(spark: SparkSession, store: TableStore, seen: SeenSet, frontier: DataFrame,
              frontierSize: Long, round: Int): Unit = {
    val delta = frontier.filter(!mightContainCol(spark, seen, col("url_hash")))
      .select(col("url_hash"))
    val next = merged(spark, seen, delta, 0L)
      .withApproxInserted(math.max(seen.approxInserted, frontierSize))
    // allowRewind: after an explicit frontier resetTo the replayed rounds
    // re-commit the blob at lower rounds; the bloom is a monotone superset,
    // so a rewound pointer is still correct
    val snap = store.commitBlob("seen_bloom", toBytes(next), round, allowRewind = true)
    cacheFor(store.root, snap.path, snap.committedAtMs, next)
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

  // ---- blob (SnapshotStore) serialization: versioned envelope ----
  private val Magic = 0x47424c4d // "GBLM"

  /** Version 2: the shard count and shape, then per shard its inserted
    * estimate and its length-prefixed filter (BloomFilter.readFrom
    * over-reads when several filters share one stream). */
  def toBytes(seen: SeenSet): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(Magic)
    out.writeInt(2)
    out.writeInt(seen.shards.length)
    out.writeLong(seen.perShardCap)
    out.writeDouble(seen.shardFpp)
    seen.shards.foreach { s =>
      out.writeLong(s.approxInserted)
      val frame = new ByteArrayOutputStream()
      s.bloom.value.writeTo(frame)
      out.writeInt(frame.size)
      frame.writeTo(out)
    }
    out.flush()
    bos.toByteArray
  }

  /** Decode a blob; version 1 (the single-filter envelope of stores
    * committed before shards were stored) reads as one shard. */
  def fromBytes(spark: SparkSession, bytes: Array[Byte]): SeenSet = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(in.readInt() == Magic, "not a url-seen bloom blob")
    def shard(inserted: Long, bf: BloomFilter) = Shard(spark.sparkContext.broadcast(bf), inserted)
    in.readInt() match {
      case 1 =>
        val cap = in.readLong()
        val fpp = in.readDouble()
        val inserted = in.readLong()
        SeenSet(Vector(shard(inserted, BloomFilter.readFrom(in))), cap, fpp)
      case 2 =>
        val k = in.readInt()
        val cap = in.readLong()
        val fpp = in.readDouble()
        val shards = (0 until k).map { _ =>
          val inserted = in.readLong()
          val len = in.readInt()
          val at = bytes.length - in.available() // each frame decodes in place
          in.skipBytes(len)
          shard(inserted, BloomFilter.readFrom(new ByteArrayInputStream(bytes, at, len)))
        }
        SeenSet(shards, cap, fpp)
      case v => throw new IllegalArgumentException(s"unknown url-seen blob version $v")
    }
  }

  /** Codegen'd bloom-membership probe (native Catalyst expression, not a
    * UDF): an Or chain over the shard filters, each holding its broadcast
    * as a codegen reference object — still whole-stage codegen. The
    * expression carries its own set, so nothing is registered and a lazily
    * analyzed plan probes the set it was built with. */
  def mightContainCol(spark: SparkSession, seen: SeenSet, c: Column): Column =
    GraftColumns.unary(c)(seen.probeExpr)
}
