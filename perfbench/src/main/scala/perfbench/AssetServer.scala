package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback HTTP server that plays the WordPress media host.
  *
  * Every asset URL ends in `-<id>.<ext>`; the body is [[AssetServer.body]]
  * of (seed, id), a few KB of seeded bytes that the checks recompute
  * independently. The plan (see [[reset]]) names the ids that misbehave:
  * "404" always answers 404, "500once" answers 500 on its first request
  * and 200 after.
  * Nagle is off (`sun.net.httpserver.nodelay`) and nothing sleeps, so the
  * fetch rate measures the exporter's client, not this server. */
final class AssetServer(port: Int, seed: Long, threads: Int = 4) {
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val IdRe = "-(\\d+)\\.[A-Za-z0-9]+$".r.unanchored
  @volatile private var plan = Map.empty[Long, String]
  private val seen = new ConcurrentHashMap[Long, AtomicInteger]()
  val requests = new AtomicLong()
  val retries = new AtomicLong()
  /** Distinct ids answered with 200: the assets this server wrote out. */
  val served = ConcurrentHashMap.newKeySet[Long]()
  private val inflight = new AtomicInteger()
  val maxInflight = new AtomicInteger()

  private val pool = Executors.newFixedThreadPool(threads)
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, port), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  private def handle(ex: HttpExchange): Unit = {
    val now = inflight.incrementAndGet()
    maxInflight.accumulateAndGet(now, math.max)
    try {
      requests.incrementAndGet()
      ex.getRequestURI.getRawPath match {
        case IdRe(idText) =>
          val id = idText.toLong
          val n = seen.computeIfAbsent(id, _ => new AtomicInteger()).incrementAndGet()
          if (n > 1) retries.incrementAndGet()
          plan.get(id) match {
            case Some("404") => reply(ex, 404, Array.emptyByteArray)
            case Some("500once") if n == 1 => reply(ex, 500, Array.emptyByteArray)
            case _ =>
              reply(ex, 200, AssetServer.body(seed, id))
              served.add(id)
          }
        case _ => reply(ex, 400, Array.emptyByteArray)
      }
    } finally inflight.decrementAndGet()
  }

  private def reply(ex: HttpExchange, code: Int, bytes: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Starts an export afresh: a new plan, every counter at zero, and the
    * "500once" assets failing once more. */
  def reset(newPlan: Map[Long, String]): Unit = {
    plan = newPlan
    seen.clear(); served.clear()
    requests.set(0); retries.set(0); maxInflight.set(0)
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object AssetServer {
  private def sha(s: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))

  /** 1-5 KB: SHA-256 blocks of "seed:id:i", cut to a length taken from
    * SHA-256("seed:id"). perfbench/wpsite.py's `asset_body` is the same
    * function. */
  def body(seed: Long, id: Long): Array[Byte] = {
    val h = sha(s"$seed:$id")
    val len = 1024 + (java.nio.ByteBuffer.wrap(h, 0, 8).getLong & Long.MaxValue) % 4096
    val out = new java.io.ByteArrayOutputStream(len.toInt + 32)
    var i = 0
    while (out.size() < len) { out.write(sha(s"$seed:$id:$i")); i += 1 }
    java.util.Arrays.copyOf(out.toByteArray, len.toInt)
  }

  /** Reads the plan file: one "id,kind" line per misbehaving asset. */
  def readPlan(path: String): Map[Long, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(id, kind) = l.split(",", 2)
      id.toLong -> kind
    }.toMap
    finally src.close()
  }
}
