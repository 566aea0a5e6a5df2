package graft.http

import com.fasterxml.jackson.core.JsonProcessingException

/** HTTP request failed with a status code (reference MgmtClient.scala's
  * `RequestException(status)` surface, thrown on any non-2xx response). */
case class RequestException(status: Int, body: String)
  extends RuntimeException(s"HTTP $status: $body")

/** U2 — shared retry-with-exponential-backoff utility
  * (reference ValidationProcessFunction.scala:171-212 and MgmtApiSink.scala:57-92:
  * backoff starts at 1 s, doubles to a 5 min cap, gives up after 24 h).
  *
  * Clock and sleeper are injectable so the 24 h ceiling is unit-testable without
  * wall-clock time — the reference tests the same loop with a mocked client.
  *
  * Unlike the reference, callers must NOT run this on a streaming task thread
  * (it would stall the micro-batch trigger; SURVEY.md §7.5): the engine invokes it
  * driver-side on the small set of unresolved batch ids per trigger.
  */
class Retry(
    initialBackoffMs: Long = 1000L,
    maxBackoffMs: Long = 300000L,
    giveUpAfterMs: Long = 24L * 3600 * 1000,
    now: () => Long = () => System.currentTimeMillis(),
    sleep: Long => Unit = Thread.sleep) extends Serializable {

  /** Run `attempt` until it succeeds, a non-retryable failure is thrown, or the
    * 24 h ceiling passes (then the last failure is rethrown).
    *
    * @param retryable which throwables warrant another attempt (reference: any
    *   RequestException that is not a 4xx; plus transport errors)
    */
  def run[T](attempt: => T, retryable: Throwable => Boolean = Retry.serverSideOnly): T = {
    val start = now()
    var backoff = initialBackoffMs
    while (true) {
      try return attempt
      catch {
        case e: Throwable if retryable(e) && now() - start < giveUpAfterMs =>
          sleep(backoff)
          backoff = math.min(maxBackoffMs, backoff * 2)
        case e: Throwable => throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object Retry {
  /** Only 5xx and transport errors retry; every other status fails fast.
    * The reference fails fast only on 4xx (MgmtApiSink.scala:64-79, with 409
    * special-cased) and would retry a 3xx — failing fast on 3xx here is a
    * DELIBERATE deviation, not the reference policy: this client follows no
    * redirects, so a 3xx is as deterministic as a 4xx, and a misconfigured
    * base URI behind a redirecting load balancer would otherwise back off
    * for the full 24 h ceiling on an error that can never succeed. A body
    * that is not JSON (a proxy's HTML page, say) fails fast too: the
    * exception is an IOException, so its case comes first. */
  val serverSideOnly: Throwable => Boolean = {
    case RequestException(status, _) => status >= 500
    case _: JsonProcessingException => false
    case _ => true
  }
}
