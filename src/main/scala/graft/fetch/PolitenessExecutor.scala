package graft.fetch

import scala.collection.mutable

import graft.frontier.{CrawlConfig, Signer}
import graft.schema.{CrawlStatus, FetchTask, Span}
import graft.url.Urls

/** One fetched page: crawl_fetch datum + parsed spans, fused (the synthetic
  * protocol returns spans directly, so parse needs no second content pass). */
case class FetchedPage(
    url: String,
    url_hash: Long,
    host: String,
    status: Byte,
    protocol_status: String,
    fetch_time: Long,
    content_type: String,
    signature: Array[Byte],
    repr_url: String,
    retries: Int,
    fetch_interval: Int,
    score: Float,
    round: Int,
    spans: Seq[Span],
    depth: Int = 1 // scoring-depth: the fetched page's own depth
)

/** Per-partition fetch counters (per-partition lineage, north rule). */
case class FetchPartitionMetrics(
    partition_id: Int,
    input_rows: Long,
    fetched: Long,
    robots_denied: Long,
    robots_deferred: Long,
    retries: Long,
    redirects: Long,
    gone: Long,
    virtual_ms: Long
)

/** Virtual/real time source. Tests and benches use virtual time so politeness
  * waits are simulated, not slept (SURVEY.md §7.4 "politeness inside a
  * data-parallel engine"). */
trait Clock extends Serializable {
  def now: Long
  def advanceTo(t: Long): Unit
}
final class VirtualClock(start: Long) extends Clock {
  private var t = start
  override def now: Long = t
  override def advanceTo(x: Long): Unit = if (x > t) t = x
}
/** Wall-clock with real politeness sleeps — for deployments with a real
  * Fetcher; tests and benches use VirtualClock. */
final class SystemClock extends Clock {
  override def now: Long = System.currentTimeMillis()
  override def advanceTo(x: Long): Unit = {
    var remaining = x - now
    while (remaining > 0) { Thread.sleep(remaining); remaining = x - now }
  }
}

/** The per-partition politeness scheduler (SURVEY.md §2.8).
  *
  * Equivalent machinery to the reference's in-task fetcher runtime
  * (QueueFeeder bounded admission, per-host FIFO queues with
  * nextFetchTime = lastFetchEnd + crawlDelay, robots gate with per-host
  * cache + PER-URL path rules, per-queue exponential exception backoff and
  * purge, optional in-task redirect following) — reimagined as a lazy
  * Iterator transform inside `Dataset.mapPartitions` over a host-partitioned
  * fetchlist. Hosts are partition-sticky (salted repartition by host), so
  * the robots cache and queue state are partition-local with the same hit
  * rates the reference gets from its non-splittable fetchlist files.
  *
  * Ready hosts are tracked in a binary heap keyed by next slot time with
  * lazy deletion, so each fetch costs O(log hosts), not O(hosts).
  *
  * threadsPerQueue (fetcher.threads.per.queue) is modeled as k politeness
  * SLOTS per host: each slot independently enforces the crawl delay, so up
  * to k requests can be in flight per host — forced to 1 when the host's
  * robots carries a Crawl-delay, like the reference (FetchItemQueue ctor).
  */
object PolitenessExecutor {

  private sealed trait Gate
  private case class Open(delayMs: Long, rules: Robots.RobotRules) extends Gate
  private case object Denied extends Gate
  private case object DelayTooLong extends Gate
  private case object Deferred extends Gate

  private final class HostQueue(val host: String) {
    val fifo = new mutable.ArrayDeque[(FetchTask, Int)]() // (task, redirect hop)
    var slots: Array[Long] = Array(0L) // per-slot next allowed start time
    var exceptions = 0
    var gate: Gate = null
    var enqueuedInHeap = false
    // generator-stamped _variableFetchDelay_: the FIRST queued item carrying
    // one presets the queue delay (reference FetchItemQueue.addFetchItem,
    // fetcher/FetchItemQueue.java:102-113); robots Crawl-delay still wins
    var varDelayMs: Long = -1L
    def nextTime: Long = { // min over slots (k is tiny: 1..threadsPerQueue)
      var m = slots(0); var i = 1
      while (i < slots.length) { if (slots(i) < m) m = slots(i); i += 1 }
      m
    }
    def minSlot: Int = {
      var mi = 0; var i = 1
      while (i < slots.length) { if (slots(i) < slots(mi)) mi = i; i += 1 }
      mi
    }
  }

  def run(
      partitionId: Int,
      tasks: Iterator[FetchTask],
      fetcher: Fetcher,
      cfg: CrawlConfig,
      roundStartMs: Long,
      round: Int,
      onMetrics: FetchPartitionMetrics => Unit
  ): Iterator[FetchedPage] = {
    val clock: Clock = if (cfg.realClock) new SystemClock else new VirtualClock(roundStartMs)
    val epochMs = clock.now // time-limit + lineage metrics measure from here
    val signer = Signer.forConfig(cfg)
    val queues = mutable.HashMap.empty[String, HostQueue]
    // min-heap of (nextTime, host) with lazy deletion
    val ready = mutable.PriorityQueue.empty[(Long, String)](Ordering.by[(Long, String), Long](_._1).reverse)
    var queued = 0
    val admissionCap = math.max(64, cfg.queueDepth * cfg.threadsPerQueue * 8)
    // redirect targets already enqueued in this partition (in-task follow dedup)
    val followed = mutable.HashSet.empty[String]
    var inRows = 0L
    var nFetched = 0L
    var nDenied = 0L
    var nDeferred = 0L
    var nRetried = 0L
    var nRedirects = 0L
    var nGone = 0L

    def gateOf(q: HostQueue): Gate = {
      if (q.gate == null) {
        q.gate = fetcher.robotsRules(q.host) match {
          case None => Deferred // robots endpoint 5xx: defer visits
          case Some(rules) if rules.deniesAll => Denied
          case Some(rules) =>
            rules.crawlDelay match {
              case Some(d) =>
                val ms = math.ceil(d * 1000.0).toLong
                if (ms > cfg.maxCrawlDelayMs) DelayTooLong
                else Open(math.max(ms, cfg.minCrawlDelayMs), rules) // crawl-delay forces 1 slot
              case None =>
                val base = if (q.varDelayMs >= 0) q.varDelayMs else cfg.serverDelayMs
                val delay = math.max(base, cfg.minCrawlDelayMs)
                if (cfg.threadsPerQueue > 1) {
                  val t0 = q.slots(0)
                  q.slots = Array.fill(cfg.threadsPerQueue)(t0)
                }
                Open(delay, rules)
            }
        }
      }
      q.gate
    }

    def enqueue(q: HostQueue, item: (FetchTask, Int)): Unit = {
      if (q.varDelayMs < 0 && item._1.fetch_delay_ms >= 0)
        q.varDelayMs = item._1.fetch_delay_ms // first carrier wins (reference)
      q.fifo.append(item)
      queued += 1
      if (!q.enqueuedInHeap) {
        ready.enqueue((q.nextTime, q.host))
        q.enqueuedInHeap = true
      }
    }

    def fill(): Unit =
      while (tasks.hasNext && queued < admissionCap) {
        val t = tasks.next()
        inRows += 1
        enqueue(queues.getOrElseUpdate(t.host, new HostQueue(t.host)), (t, 0))
      }

    def result(t: FetchTask, status: Byte, proto: String, time: Long,
               ct: String = null, sig: Array[Byte] = null, repr: String = null,
               spans: Seq[Span] = Seq.empty): FetchedPage =
      FetchedPage(t.url, t.url_hash, t.host, status, proto, time, ct, sig, repr,
        t.retries, t.fetch_interval, t.score, round, spans, t.depth)

    new Iterator[FetchedPage] {
      private val pending = new mutable.ArrayDeque[FetchedPage]()
      private var done = false

      /** Drain a whole host queue with one terminal status (robots gates). */
      private def drain(q: HostQueue, status: Byte, proto: String, bump: Int => Unit): Unit = {
        bump(q.fifo.size)
        q.fifo.foreach { case (t, _) => pending.append(result(t, status, proto, clock.now)) }
        queued -= q.fifo.size
        q.fifo.clear()
      }

      private def step(): Unit = {
        fill()
        // fetch time limit (fetcher.timelimit): past the budget, drain every
        // queued + remaining item as retry — they stay due in the frontier
        if (clock.now - epochMs >= cfg.fetchTimeLimitMs) {
          queues.valuesIterator.filter(_.fifo.nonEmpty)
            .foreach(q => drain(q, CrawlStatus.FETCH_RETRY, "TIMELIMIT_DRAINED", nRetried += _))
          while (tasks.hasNext) {
            val t = tasks.next(); inRows += 1; nRetried += 1
            pending.append(result(t, CrawlStatus.FETCH_RETRY, "TIMELIMIT_DRAINED", clock.now))
          }
        }
        // pop until a live heap entry is found
        var q: HostQueue = null
        while (q == null && ready.nonEmpty) {
          val (time, host) = ready.dequeue()
          val cand = queues(host)
          cand.enqueuedInHeap = false
          if (cand.fifo.isEmpty) () // stale: host drained; politeness state kept in map
          else if (cand.nextTime != time) { // stale time: re-enqueue at true time
            ready.enqueue((cand.nextTime, cand.host))
            cand.enqueuedInHeap = true
          } else q = cand
        }
        if (q == null) {
          if (!done) {
            done = true
            onMetrics(FetchPartitionMetrics(partitionId, inRows, nFetched, nDenied,
              nDeferred, nRetried, nRedirects, nGone, clock.now - epochMs))
          }
          return
        }
        gateOf(q) match {
          case Denied       => drain(q, CrawlStatus.FETCH_GONE, "ROBOTS_DENIED", nDenied += _)
          case DelayTooLong => drain(q, CrawlStatus.FETCH_GONE, "ROBOTS_DELAY_TOO_LONG", nGone += _)
          case Deferred     => drain(q, CrawlStatus.FETCH_RETRY, "ROBOTS_DEFERRED", nDeferred += _)
          case Open(delayMs, rules) =>
            // per-URL robots path check (no request made, no politeness wait):
            // skim path-denied items off the queue head first. Hosts with no
            // path rules (the overwhelmingly common case) skip the check —
            // no pathQueryOf allocation on the hot path.
            val noPathRules = rules.rules.isEmpty
            var head: (FetchTask, Int) = null
            while (head == null && q.fifo.nonEmpty) {
              val item = q.fifo.removeHead()
              queued -= 1
              if (noPathRules || rules.isAllowed(Urls.pathQueryOf(item._1.url))) head = item
              else {
                nDenied += 1
                pending.append(result(item._1, CrawlStatus.FETCH_GONE, "ROBOTS_DENIED", clock.now))
              }
            }
            if (head != null) {
              val (t, hop) = head
              val slot = q.minSlot
              clock.advanceTo(q.slots(slot))
              val resp = fetcher.fetch(t.url)
              clock.advanceTo(clock.now + math.max(0L, resp.latencyMs))
              val endTime = clock.now
              var slotDelay = delayMs
              resp.code match {
                case "SUCCESS" =>
                  nFetched += 1
                  // mime-dispatched parse for raw protocol bytes (real-data
                  // path: HTML/plain/binary via the DocParser registry); the
                  // synthetic protocol serves pre-parsed spans directly.
                  // Container mimes (zip) yield sub-documents — reference
                  // ParseResult.java multi-entry: one fetch, N parsed rows.
                  val docs =
                    if (resp.content != null)
                      graft.parse.DocParsers.parseResult(resp.contentType, t.url, resp.content, cfg)
                    else Seq(graft.parse.SubDoc(t.url, resp.contentType, resp.doc.spans))
                  val spans = docs.head.spans
                  pending.append(result(t, CrawlStatus.FETCH_SUCCESS, "SUCCESS", endTime,
                    resp.contentType, signer.signSpans(spans), null, spans))
                  // sub-documents ride the pipeline as their own fetched rows
                  // (own URL, own signature; score 0 — OPIC cash stays with
                  // the container, credits accrue via links like any page).
                  // EXTERNAL sub-docs (feed entries — real URLs that also
                  // ride the link side) go through the same canonicalize+
                  // filter chain as discovered links, or the fetch side and
                  // link side emit two frontier keys for one page; synthetic
                  // container-member URLs (zip) are kept verbatim — their
                  // content is already fetched and they never appear as
                  // links. host/domain come from the sub-doc's OWN url
                  // (feed entries may live on another host).
                  docs.drop(1).foreach { sd =>
                    val su =
                      if (sd.external) cfg.urlChain(sd.url) else sd.url
                    if (su != null) {
                      val sh = Urls.hostOf(su)
                      val st = FetchTask(su, Urls.hash64(su),
                        if (sh != null) sh else t.host,
                        if (sh != null) Urls.registeredDomainOf(sh) else t.domain,
                        CrawlStatus.DB_UNFETCHED, endTime, 0,
                        cfg.fetchIntervalDefault, 0.0f, t.segment,
                        depth = t.depth) // members live AT the container's depth
                      pending.append(result(st, CrawlStatus.FETCH_SUCCESS, "SUCCESS", endTime,
                        sd.contentType, signer.signSpans(sd.spans), null, sd.spans))
                    }
                  }
                  // in-task outlink follow (fetcher.follow.outlinks.depth,
                  // reference Fetcher.java outlink queuing): the page's first
                  // N link targets enqueue into their host queues — politeness
                  // applies — up to `followOutlinksDepth` levels; external
                  // hosts skipped unless configured. The hop counter is
                  // shared with redirect-follow (combined in-task depth).
                  if (cfg.followOutlinksDepth > 0 && hop < cfg.followOutlinksDepth &&
                      (cfg.scoringDepthMax <= 0 || t.depth < cfg.scoringDepthMax)) {
                    var followedHere = 0
                    val linkIt = spans.iterator.filter(_.kind == "link")
                    while (followedHere < cfg.followOutlinksNumLinks && linkIt.hasNext) {
                      val target = cfg.urlChain(linkIt.next().media_ref)
                      if (target != null && target != t.url) {
                        val th = Urls.hostOf(target)
                        if (th != null &&
                            (!cfg.followOutlinksIgnoreExternal || th == t.host) &&
                            followed.add(target)) {
                          followedHere += 1
                          val nt = FetchTask(target, Urls.hash64(target), th,
                            Urls.registeredDomainOf(th), CrawlStatus.DB_UNFETCHED,
                            endTime, 0, cfg.fetchIntervalDefault, t.score, t.segment,
                            depth = t.depth + 1)
                          enqueue(queues.getOrElseUpdate(th, new HostQueue(th)), (nt, hop + 1))
                        }
                      }
                    }
                  }
                case "NOTFOUND" =>
                  nGone += 1
                  pending.append(result(t, CrawlStatus.FETCH_GONE, "NOTFOUND", endTime))
                case "GONE" => // 401/403/451 access denied (real protocol)
                  nGone += 1
                  pending.append(result(t, CrawlStatus.FETCH_GONE, "ACCESS_DENIED", endTime))
                case "NOTMODIFIED" => // 304 conditional fetch (real protocol)
                  nFetched += 1
                  pending.append(result(t, CrawlStatus.FETCH_NOTMODIFIED, "NOTMODIFIED",
                    endTime, resp.contentType))
                case "MOVED" | "TEMP_MOVED" =>
                  nRedirects += 1
                  val target = cfg.urlChain(resp.redirectTo)
                  val st = if (resp.code == "MOVED") CrawlStatus.FETCH_REDIR_PERM else CrawlStatus.FETCH_REDIR_TEMP
                  val repr = if (target == null) null
                             else Urls.chooseRepr(t.url, target, temp = resp.code == "TEMP_MOVED")
                  // the redirect target rides along as a span; the parse stage
                  // turns it into a linked frontier update. http.redirect.max
                  // semantics match the reference: 0 (default) records the
                  // redirect and fetches the target NEXT round; >0 follows
                  // in-task by enqueuing the target into its host queue
                  // (politeness applies), up to redirectMax hops.
                  val spans = if (target == null) Seq.empty[Span]
                              else Seq(Span("redirect", null, target, 0))
                  pending.append(result(t, st, resp.code, endTime, repr = repr, spans = spans))
                  if (target != null && cfg.redirectMax > 0 && hop < cfg.redirectMax &&
                      target != t.url && followed.add(target)) {
                    val th = Urls.hostOf(target)
                    if (th != null) {
                      // a redirect is the same document, not a link hop —
                      // the target keeps the source's depth
                      val nt = FetchTask(target, Urls.hash64(target), th,
                        Urls.registeredDomainOf(th), CrawlStatus.DB_UNFETCHED,
                        endTime, 0, cfg.fetchIntervalDefault, t.score, t.segment,
                        depth = t.depth)
                      enqueue(queues.getOrElseUpdate(th, new HostQueue(th)), (nt, hop + 1))
                    }
                  }
                case _ => // RETRY / transient exception
                  nRetried += 1
                  q.exceptions += 1
                  pending.append(result(t, CrawlStatus.FETCH_RETRY, "EXCEPTION", endTime))
                  // exponential per-queue backoff (reference FetchItemQueues
                  // exception handling): delay × 2^(n-1), capped — a flapping
                  // host is slowed down before the purge threshold hits
                  val shift = math.min(q.exceptions - 1, 20)
                  slotDelay = math.min(delayMs << shift, cfg.exceptionBackoffMaxMs)
                  if (q.exceptions >= cfg.maxExceptionsPerQueue) {
                    // purge: remaining items retry next round, without waits
                    drain(q, CrawlStatus.FETCH_RETRY, "QUEUE_PURGED", nRetried += _)
                  }
              }
              q.slots(slot) = endTime + slotDelay
            }
            if (q.fifo.nonEmpty && !q.enqueuedInHeap) {
              ready.enqueue((q.nextTime, q.host))
              q.enqueuedInHeap = true
            }
        }
      }

      override def hasNext: Boolean = {
        while (pending.isEmpty && !done) step()
        pending.nonEmpty
      }
      override def next(): FetchedPage = {
        if (!hasNext) throw new NoSuchElementException
        pending.removeHead()
      }
    }
  }
}
