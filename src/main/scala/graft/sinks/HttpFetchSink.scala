package graft.sinks

import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, Semaphore}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S9/S10 — side-effecting binary-asset sink with bounded concurrency,
  * retry, idempotence and a dead-letter output (reference:
  * libs/export/assets.js:70-148: guard.n(2) download concurrency, 60 s
  * timeout, 1 retry, skip-if-exists, wp_failed.json).
  *
  * Exactly-once is impossible for HTTP side effects; the contract is
  * at-least-once + idempotence-check + dead-letter (SURVEY.md §7.4), which
  * makes Spark task retries safe.
  *
  * The fetcher is injected ([[Fetcher]]) — production wires an HTTP
  * client; this zero-egress environment and the tests wire fakes.
  */
object HttpFetchSink {

  /** url => Right(bytes) | Left(error). Implementations must be
    * serializable (executed on executors). */
  type Fetcher = String => Either[String, Array[Byte]]

  /** Production HTTP fetcher with the reference's 60 s timeout contract
    * (assets.js:82-90: axios timeout 60000, arraybuffer). A plain
    * `Function1` object so the closure serializes to executors; the
    * HttpClient is built lazily PER JVM (executor), not shipped. Non-2xx
    * statuses and transport errors return Left (the sink's retry /
    * dead-letter machinery decides what happens next); redirects follow
    * like axios' default. `timeoutMillis` covers connect AND the full
    * body read — a stalled stream must not hang an executor thread
    * longer than the reference would wait. */
  final class HttpFetcher(timeoutMillis: Long = 60000L)
      extends (String => Either[String, Array[Byte]]) with Serializable {
    @transient private lazy val client: java.net.http.HttpClient =
      java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(timeoutMillis))
        .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
        .build()
    def apply(url: String): Either[String, Array[Byte]] = {
      // HttpRequest.timeout only bounds time-to-response-HEADERS; a
      // server that sends headers then stalls (or drips) the body would
      // hang a blocking send() past any deadline. The whole exchange —
      // connect, headers, AND full body — therefore runs async with a
      // hard get(timeout); on expiry the future is cancelled so the
      // client tears the transfer down instead of leaking it.
      var fut: java.util.concurrent.CompletableFuture[
        java.net.http.HttpResponse[Array[Byte]]] = null
      try {
        val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .timeout(java.time.Duration.ofMillis(timeoutMillis))
          .GET().build()
        fut = client.sendAsync(req,
          java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        val resp = fut.get(timeoutMillis,
          java.util.concurrent.TimeUnit.MILLISECONDS)
        if (resp.statusCode() / 100 == 2) Right(resp.body())
        else Left(s"HTTP ${resp.statusCode()}")
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          fut.cancel(true)
          Left(s"timeout after ${timeoutMillis}ms: body read exceeded deadline")
        case e: java.util.concurrent.ExecutionException =>
          e.getCause match {
            case t: java.net.http.HttpTimeoutException =>
              Left(s"timeout after ${timeoutMillis}ms: ${t.getMessage}")
            case t if t != null =>
              Left(s"${t.getClass.getSimpleName}: ${t.getMessage}")
            case _ => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          if (fut != null) fut.cancel(true)
          Left(s"interrupted: ${e.getMessage}")
        case scala.util.control.NonFatal(e) =>
          Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  /** Default production fetcher (the 60 s reference contract). */
  def defaultFetcher: Fetcher = new HttpFetcher()

  final case class FetchResult(id: Long, url: String, path: String,
                               ok: Boolean, skipped: Boolean, error: String)

  /** JVM-wide (= per-executor) fetch gates, keyed per sink invocation.
    * A partition iterator is consumed sequentially, so a per-partition
    * semaphore can never contend; sharing one static semaphore across
    * all tasks of an executor makes the bound real: at most
    * `concurrency` fetches in flight per executor JVM regardless of how
    * many tasks run concurrently (the distributed analog of the
    * reference's process-wide guard.n(2)). */
  private val gates = new ConcurrentHashMap[String, Semaphore]()
  private[graft] def gate(key: String, permits: Int): Semaphore =
    gates.computeIfAbsent(key, _ => new Semaphore(permits))

  /** Destination file name from the URL's last path segment, hardened:
    * query/fragment stripped, traversal (".", "..", separators, NULs)
    * rejected with a deterministic `asset-<id>` fallback — a URL ending
    * in `/..` must not resolve outside the per-id directory. */
  private[graft] def safeFileName(url: String, id: Long): String = {
    val last = url.split("/", -1).lastOption.getOrElse("") // keep trailing ""
    val name = last.takeWhile(c => c != '?' && c != '#').trim
    val bad = name.isEmpty || name == "." || name == ".." ||
      name.exists(c => c == '\\' || c == '\u0000')
    if (bad) s"asset-$id" else name
  }

  /** Delete the temp files a killed write left in a per-id asset dir
    * (each per-id dir holds one asset, so every `.*.tmp` there is its). */
  private def sweepTemps(dir: Path): Unit =
    if (Files.isDirectory(dir)) {
      val s = Files.list(dir)
      try s.filter { p =>
        val n = p.getFileName.toString
        n.startsWith(".") && n.endsWith(".tmp")
      }.forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }

  /** Fetch each (id, url) row to `destDir/<id>/<filename>`.
    *
    * Runs as a distributed transform (`mapPartitions`) over the rows
    * hash-partitioned on id into `defaultParallelism` tasks (a one-file
    * source would otherwise be one task, leaving the gate idle; hashing
    * keeps task retries deterministic). Fetches are bounded by an
    * executor-wide semaphore (see [[gate]]), retried once, and written
    * through a temp file + atomic move, so a file that exists is
    * complete and is skipped (idempotent re-runs); temp files of killed
    * attempts are swept before the re-fetch. Returns a result DataFrame;
    * callers split it into success manifest and dead-letter (S10) via
    * [[deadLetter]]. */
  def fetch(assets: DataFrame, idCol: String, urlCol: String, destDir: String,
            fetcher: Fetcher, concurrency: Int = 2,
            retries: Int = 1): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    val gateKey = s"$destDir#$concurrency"
    assets.select(col(idCol).cast("long").as("id"), col(urlCol).cast("string"))
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, url) =>
          val fileName = safeFileName(url, id)
          val dir = Paths.get(destDir, id.toString)
          val target = dir.resolve(fileName)
          if (Files.exists(target)) // assets.js:78-80 idempotent skip
            FetchResult(id, url, target.toString, ok = true, skipped = true, "")
          else {
            sweepTemps(dir)
            val g = gate(gateKey, concurrency)
            var result: Either[String, Array[Byte]] = Left("not attempted")
            var attempt = 0
            var done = false
            while (!done) { // first try + `retries` retries (assets.js:88-96)
              g.acquire()
              try result = fetcher(url)
              finally g.release()
              done = result.isRight || attempt >= retries
              attempt += 1
            }
            result match {
              case Right(bytes) =>
                // a speculative twin may have swept this attempt's temp
                // file; if its own copy is already in place, so is ours
                try AtomicFile.write(target, bytes)
                catch { case _: NoSuchFileException if Files.exists(target) => }
                FetchResult(id, url, target.toString, ok = true,
                  skipped = false, "")
              case Left(err) =>
                FetchResult(id, url, target.toString, ok = false,
                  skipped = false, err)
            }
          }
        }
      }.toDF()
  }

  /** S10 — the dead-letter side: failed fetches as a {id: url} manifest,
    * replayable through the by-ids entry point. */
  def deadLetter(results: DataFrame): DataFrame =
    results.filter(!col("ok"))
      .select(col("id"), col("url"), col("error"))
}
