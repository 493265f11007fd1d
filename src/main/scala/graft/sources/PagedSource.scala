package graft.sources

import scala.collection.mutable.ArrayBuffer

/** Paginated-source semantics (SURVEY.md §2.1 S1–S4, §2.10 T2/T4/T5).
  *
  * The reference's bronze job walks a paged REST API with a resumable
  * checkpoint, a last-page test, per-run page/time budgets, and a running
  * event-time maximum (REF glue_jobs/bronze/wistia_pull_wistia_api.py:
  * 109-115,181-232). HTTP itself is a connector concern (non-goal, SURVEY.md
  * §7) — what the ENGINE owns is the control algebra, reproduced here
  * exactly and driven by any [[PagedApi]] implementation (tests use a
  * deterministic fake). Page payloads feed `Flatten.tagPages`, which
  * turns the envelope variants into rows.
  */
object PagedSource {

  /** One fetched page: raw JSON payload + parsed envelope hints. */
  final case class Page(payload: String, size: Long,
                        total: Option[Long], perPage: Option[Long])

  trait PagedApi {
    def fetch(page: Long): Page
  }

  /** A fetch that failed with an HTTP status (the connector surfaces the
    * code; the engine owns the retry decision).
    */
  final case class HttpStatusFailure(status: Int)
    extends RuntimeException(s"HTTP $status")

  /** A fetch that failed before any HTTP status existed (DNS, connect,
    * read timeout — the reference's URLError branch).
    */
  final class TransportFailure(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  /** S4: retry/backoff decorator over any [[PagedApi]] (REF
    * glue_jobs/bronze/wistia_pull_wistia_api.py:83-97). Truth table matches
    * the reference exactly:
    *   - [[HttpStatusFailure]] with a retryable status (500/502/503/504 by
    *     default): sleep the next backoff step and retry, while steps remain.
    *   - [[HttpStatusFailure]] with any other status (4xx etc.): rethrow
    *     immediately — client errors don't heal with time.
    *   - [[TransportFailure]]: always retry while steps remain.
    *   - Anything else: rethrow immediately.
    * After the schedule is exhausted the NEXT failure propagates (the
    * reference's `list(retries)+[None]` sentinel). `sleep` is injected so
    * tests run on a virtual clock.
    */
  def retrying(api: PagedApi,
               backoffMillis: Seq[Long] = Seq(1000L, 2000L, 4000L),
               retryableStatus: Set[Int] = Set(500, 502, 503, 504),
               sleep: Long => Unit = Thread.sleep): PagedApi =
    new PagedApi {
      def fetch(page: Long): Page = {
        var attempt = 0
        while (true) {
          val remaining = attempt < backoffMillis.size
          try return api.fetch(page)
          catch {
            case e: HttpStatusFailure
                if retryableStatus(e.status) && remaining =>
              sleep(backoffMillis(attempt)); attempt += 1
            case _: TransportFailure if remaining =>
              sleep(backoffMillis(attempt)); attempt += 1
          }
        }
        throw new IllegalStateException("unreachable")
      }
    }

  /** Resumable checkpoint (REF :157-159,237-247): next page to fetch plus
    * the max event-time seen so far.
    */
  final case class Checkpoint(nextPage: Long = 1L,
                              lastReceivedAt: Option[String] = None)

  /** Result of one bounded pull (micro-batch). `complete` = pagination
    * exhausted (vs budget-capped, which leaves a resume point — T2).
    */
  final case class PullResult(payloads: Seq[String], checkpoint: Checkpoint,
                              complete: Boolean)

  /** Last-page algebra (REF :188-190,226-229): a page is final when it came
    * back short, or when the declared total is covered.
    */
  def isLastPage(size: Long, perPage: Long, page: Long, total: Option[Long]): Boolean =
    size < perPage || total.exists(t => page * perPage >= t)

  /** Bounded, resumable pull loop (T4: MAX_PAGES / time-budget caps per
    * trigger, REF :29-30,205-210). `now` is injected for testability.
    */
  def pull(api: PagedApi, start: Checkpoint, maxPages: Long,
           timeBudgetMillis: Long, defaultPerPage: Long,
           now: () => Long = System.currentTimeMillis): PullResult = {
    val t0 = now()
    val payloads = ArrayBuffer.empty[String]
    var page = start.nextPage
    var hw = start.lastReceivedAt
    var fetched = 0L
    var complete = false
    var stop = false
    while (!stop) {
      val p = api.fetch(page)
      payloads += p.payload
      fetched += 1
      hw = maxOpt(hw, maxReceivedAt(p.payload))
      val perPage = p.perPage.getOrElse(defaultPerPage)
      if (isLastPage(p.size, perPage, page, p.total)) {
        complete = true; stop = true
      } else {
        page += 1
        if (fetched >= maxPages || now() - t0 >= timeBudgetMillis) stop = true
      }
    }
    val cp = if (complete) Checkpoint(1L, hw) else Checkpoint(page, hw)
    PullResult(payloads.toSeq, cp, complete)
  }

  /** Running max of `received_at` inside a raw payload (REF :217-224).
    * ISO-8601 UTC strings compare correctly lexicographically (F3), which is
    * what the reference relies on; downstream typed processing re-parses.
    */
  private[sources] def maxReceivedAt(payload: String): Option[String] = {
    val re = """"received_at"\s*:\s*"([^"]+)"""".r
    val hits = re.findAllMatchIn(payload).map(_.group(1)).toSeq
    if (hits.isEmpty) None else Some(hits.max)
  }

  private def maxOpt(a: Option[String], b: Option[String]): Option[String] =
    (a ++ b).reduceOption((x, y) => if (x >= y) x else y)
}
