package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.ParseError

/** Distributed polite fetching — SURVEY §2.1's `fetch_html` mapped onto
  * executors without losing the per-host politeness contract.
  *
  * Tasks are grouped by host (`groupByKey(_.host)` ⇒ every URL of a host
  * lands in ONE group, processed sequentially by one task), so the
  * per-host rate limiter is honest no matter how many executors run: on a
  * 1000-executor cluster, 1000 distinct hosts fetch in parallel while each
  * individual host still sees `minIntervalMs` spacing, robots gating, and
  * 429 backoff. Pages are parsed by [[HtmlPozoSource.extract]].
  * Failures are data (an `error` column), not exceptions — a bad page
  * cannot kill a million-URL crawl; a page that was fetched but failed
  * to parse keeps its `sha256`.
  */
object DistributedFetch {

  case class FetchTask(url: String, source_name: String, priority: Int,
      allow_total: Boolean, absent_as_zero: Boolean) {
    // authority (host:port), matching Fetcher's robots/politeness scope —
    // two ports on one host are distinct services and may be fetched in
    // parallel, but one service must never be split across two groups
    def host: String =
      Option(new java.net.URI(url).getAuthority).getOrElse("")
  }

  case class FetchOutcome(
      source_name: String,
      priority: Int,
      fuente: String,
      ok: Boolean,
      error: Option[String],
      sha256: Option[String],
      montos: Map[String, Long],
      sorteo: Option[Long],
      fecha: Option[String])

  /** Executor-side fetch of all tasks, one sequential polite stream per
    * host. `transport` must be serializable (fixture/scripted transports
    * are; a production HTTP transport holds no state). */
  def fetchAll(spark: SparkSession, tasks: Seq[FetchTask],
      transport: HttpTransport, ua: String,
      minIntervalMs: Long = 500, retries: Int = 3,
      backoffFactor: Double = 0.0): Dataset[FetchOutcome] = {
    import spark.implicits._
    spark.createDataset(tasks)
      .groupByKey(_.host)
      .flatMapGroups { (_: String, it: Iterator[FetchTask]) =>
        // one limiter + fetcher per host-group, created executor-side
        val limiter = new HostRateLimiter(minIntervalMs,
          System.currentTimeMillis, Thread.sleep)
        val fetcher = new Fetcher(transport, retries = retries,
          backoffFactor = backoffFactor, rateLimiter = Some(limiter))
        it.map { t =>
          def failed(e: Exception, sha256: Option[String]) =
            FetchOutcome(t.source_name, t.priority, t.url, ok = false,
              Some(String.valueOf(e.getMessage)), sha256, Map.empty, None, None)
          try {
            val res = fetcher.fetch(t.url, ua)
            try {
              val (amounts, sorteo, fecha) = HtmlPozoSource.extract(res.html, t.url,
                t.allow_total, t.absent_as_zero)
              FetchOutcome(t.source_name, t.priority, t.url, ok = true,
                None, Some(res.sha256), amounts, sorteo, fecha)
            } catch { case e: ParseError => failed(e, Some(res.sha256)) }
          } catch { case e: Exception => failed(e, None) }
        }
      }
  }
}
