package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Live HTTP adapters — the side-effecting twins of the fixture joins in
  * [[graft.pipeline.Stages]] (S2 article fetch, S13 HEAD probe;
  * reference app/extract/llm_parse.py:20-34, main.py:20-33).
  *
  * Design rules for side-effecting stages on a cluster (SURVEY §4.1):
  *  - every adapter UDF is `asNondeterministic()` so Catalyst never
  *    reorders it across the cheap filters/limits that cap the fan-out
  *    (the reference dedups and limits to 20 BEFORE fetching — that
  *    ordering is a cost contract, not an optimization hint);
  *  - politeness is a per-executor token-bucket ([[RateLimiter]]): with
  *    N partitions the aggregate rate is N × perSecond, so choose the
  *    partition count of the fetch stage, not the default parallelism —
  *    `df.repartition(politeParallelism)` before the fetch;
  *  - failures return null/false rather than throwing (the reference
  *    swallows per-row errors), feeding the rejects side output.
  *
  * The article-body extraction keeps only `<p>` text and truncates to
  * 1800 chars, per the reference's token-cost bound (llm_parse.py:32).
  */
object HttpAdapters {

  /** Simple blocking token bucket. Do NOT capture an instance in a UDF
    * closure — each task deserializes its own copy and the rate multiplies
    * by concurrent-task count. Always go through [[limiterFor]], which
    * keeps one shared instance per (name, rate) in a JVM-static registry,
    * so the rate is genuinely per-executor-JVM regardless of task count.
    */
  class RateLimiter(perSecond: Double) {
    private val intervalNanos = (1e9 / perSecond).toLong
    @volatile private var nextFree = 0L
    def acquire(): Unit = synchronized {
      val now = System.nanoTime()
      val at = math.max(now, nextFree)
      nextFree = at + intervalNanos
      val wait = at - now
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
    }
  }

  private val limiters =
    new java.util.concurrent.ConcurrentHashMap[(String, Double), RateLimiter]()

  /** JVM-wide limiter lookup: the UDF body calls this (static object
    * access, not closure capture), so every task on the executor shares
    * one bucket per adapter name + rate.
    */
  def limiterFor(name: String, perSecond: Double): RateLimiter =
    limiters.computeIfAbsent((name, perSecond), _ => new RateLimiter(perSecond))

  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.ALWAYS)
    .connectTimeout(Duration.ofSeconds(8))
    .build()

  private val ParagraphRe =
    "(?is)<p[^>]*>(.*?)</p>".r
  private val TagRe = "(?s)<[^>]*>".r

  /** GET a page and extract paragraph text (truncated to `maxChars`) —
    * null on any failure. Static so both driver tests and executor UDFs
    * share it.
    */
  def fetchArticleText(url: String, timeoutSec: Int, maxChars: Int,
                       limiter: RateLimiter): String =
    try {
      limiter.acquire()
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofSeconds(timeoutSec)).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() >= 400) null
      else {
        val paras = ParagraphRe.findAllMatchIn(resp.body())
          .map(m => TagRe.replaceAllIn(m.group(1), "").trim)
          .filter(_.nonEmpty)
        val text = paras.mkString(" ")
        if (text.isEmpty) null else text.take(maxChars)
      }
    } catch { case _: Exception => null }

  /** GET a page and return the raw body — null on any failure. The
    * building block for adapters that parse their own payload shape
    * (search result pages, ATS JSON) rather than paragraph text.
    */
  def getBody(url: String, timeoutSec: Int, limiter: RateLimiter): String =
    try {
      limiter.acquire()
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofSeconds(timeoutSec)).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() >= 400) null else resp.body()
    } catch { case _: Exception => null }

  /** HEAD-probe reachability: status < 400 after redirects. */
  def headOk(url: String, timeoutSec: Int, limiter: RateLimiter): Boolean =
    try {
      limiter.acquire()
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofSeconds(timeoutSec))
        .method("HEAD", HttpRequest.BodyPublishers.noBody()).build()
      client.send(req, HttpResponse.BodyHandlers.discarding()).statusCode() < 400
    } catch { case _: Exception => false }

  /** Column adapters (nondeterministic: never reordered by Catalyst). */
  def fetchArticleUdf(perSecond: Double, timeoutSec: Int = 10,
                      maxChars: Int = 1800): Column => Column = {
    // Capture only the rate (a primitive); the limiter itself is resolved
    // per-call from the JVM-static registry so all tasks share it.
    val f = udf((url: String) =>
      if (url == null) null
      else fetchArticleText(url, timeoutSec, maxChars,
        limiterFor("fetchArticle", perSecond)))
      .asNondeterministic()
    (c: Column) => f(c)
  }
}
