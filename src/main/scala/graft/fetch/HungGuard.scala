package graft.fetch

import java.util.concurrent.{Executors, Future, ThreadFactory, TimeUnit, TimeoutException}

/** Hung-fetch guard (the reference's mapred.task.timeout protection,
  * Fetcher.java hung-thread reporting): wraps a real Fetcher so one stuck
  * network call cannot wedge the whole partition. The call runs on a
  * daemon thread with a hard timeout; timeout ⇒ RETRY (transient), so the
  * URL stays due and the per-queue exception backoff kicks in.
  *
  * Only meaningful for real-clock fetchers — synthetic/virtual-clock
  * fetchers never block.
  */
case class HungGuardFetcher(inner: Fetcher, timeoutMs: Long) extends Fetcher {

  @transient private lazy val pool = Executors.newCachedThreadPool(new ThreadFactory {
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "graft-fetch-guard")
      t.setDaemon(true)
      t
    }
  })

  override def fetch(url: String): ProtocolResponse = {
    val fut: Future[ProtocolResponse] = pool.submit(() => inner.fetch(url))
    try fut.get(timeoutMs, TimeUnit.MILLISECONDS)
    catch {
      case _: TimeoutException =>
        fut.cancel(true) // interrupt the hung call; thread is daemon anyway
        ProtocolResponse("RETRY", null, null, null, timeoutMs)
      case e: java.util.concurrent.ExecutionException =>
        ProtocolResponse("RETRY", null, null, null, 0L)
    }
  }

  override def robotsRules(host: String): Option[Robots.RobotRules] = inner.robotsRules(host)
}
