package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{HttpFetchSink, KeyedJsonSink}

/** Counters shared with executor-side fetcher closures (local mode =
  * same JVM, so statics observe true cross-task concurrency). */
object FetchProbe {
  val inFlight = new AtomicInteger(0)
  val maxInFlight = new AtomicInteger(0)
  def reset(): Unit = { inFlight.set(0); maxInFlight.set(0) }
  def enter(): Unit = {
    val cur = inFlight.incrementAndGet()
    maxInFlight.updateAndGet(m => math.max(m, cur))
    ()
  }
  def exit(): Unit = { inFlight.decrementAndGet(); () }
}

class SinkHardeningSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("fetch concurrency bound holds ACROSS tasks (executor-wide gate)") {
    FetchProbe.reset()
    val fetcher: HttpFetchSink.Fetcher = _ => {
      FetchProbe.enter()
      try { Thread.sleep(25); Right(Array[Byte](1)) }
      finally FetchProbe.exit()
    }
    val dest = Files.createTempDirectory("fetchgate").toString
    val assets = (1L to 64L).map(i => (i, s"http://x/img-$i.jpg"))
      .toDF("uid", "url").repartition(16) // 16 concurrent tasks, bound 2
    val results = HttpFetchSink.fetch(assets, "uid", "url", dest, fetcher,
      concurrency = 2)
    assert(results.filter("ok").count() == 64)
    assert(FetchProbe.maxInFlight.get() <= 2,
      s"observed ${FetchProbe.maxInFlight.get()} concurrent fetches, bound was 2")
  }

  test("fetch fills its gate even from a single-partition input") {
    FetchProbe.reset()
    val fetcher: HttpFetchSink.Fetcher = _ => {
      FetchProbe.enter()
      try { Thread.sleep(50); Right(Array[Byte](1)) }
      finally FetchProbe.exit()
    }
    val dest = Files.createTempDirectory("fetchfill").toString
    // one input partition: a one-file attachments table
    val assets = (1L to 32L).map(i => (i, s"http://x/img-$i.jpg"))
      .toDF("uid", "url").coalesce(1)
    assert(assets.rdd.getNumPartitions == 1)
    val results = HttpFetchSink.fetch(assets, "uid", "url", dest, fetcher,
      concurrency = 2)
    assert(results.filter("ok").count() == 32)
    assert(FetchProbe.maxInFlight.get() == 2,
      s"observed ${FetchProbe.maxInFlight.get()} concurrent fetches, gate was 2")
  }

  test("a killed fetch's temp file is swept and the asset re-fetched byte-exact") {
    val dest = Files.createTempDirectory("fetchatomic")
    val body = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    // what a task killed mid-write leaves: a partial temp file, no asset
    val idDir = Files.createDirectories(dest.resolve("5"))
    Files.write(idDir.resolve(".img.jpg4711.tmp"), body.take(100))
    val fetcher: HttpFetchSink.Fetcher = _ => Right(body)
    val assets = Seq((5L, "http://x/a/img.jpg")).toDF("uid", "url")
    def run() = HttpFetchSink.fetch(assets, "uid", "url", dest.toString,
      fetcher).collect().head
    val r = run()
    assert(r.getAs[Boolean]("ok") && !r.getAs[Boolean]("skipped"))
    assert(Files.readAllBytes(idDir.resolve("img.jpg")).sameElements(body))
    val left = Files.list(idDir)
    try assert(left.iterator().asScala.map(_.getFileName.toString).toSeq ==
      Seq("img.jpg"))
    finally left.close()
    // the complete file is then trusted by the idempotent skip
    assert(run().getAs[Boolean]("skipped"))
  }

  test("a failed atomic write deletes its temp file and keeps the old state") {
    val dir = Files.createTempDirectory("atomicfail")
    // a non-empty directory where the manifest file should be: the final
    // move fails after the temp file was written
    val path = dir.resolve("state.json")
    Files.createDirectories(path.resolve("blocker"))
    intercept[java.io.IOException] {
      KeyedJsonSink.writeMasterManifest(Seq("k").toDF("uid"), "uid",
        path.toString)
    }
    val names = Files.list(dir)
    try assert(names.iterator().asScala.map(_.getFileName.toString).toSeq ==
      Seq("state.json"))
    finally names.close()
    assert(Files.isDirectory(path.resolve("blocker")))
  }

  test("filename sanitization: traversal, query strings, empty segments") {
    import HttpFetchSink.{safeFileName => f}
    assert(f("http://x/a/img.jpg", 7) == "img.jpg")
    assert(f("http://x/a/img.jpg?v=2#frag", 7) == "img.jpg")
    assert(f("http://x/a/..", 7) == "asset-7")
    assert(f("http://x/a/.", 7) == "asset-7")
    assert(f("http://x/a/", 7) == "asset-7")
    assert(f("http://x/a/?q=1", 7) == "asset-7")
    // a '..' URL must fetch (not skip via Files.exists("..")) and the
    // written file must stay inside destDir
    val dest = Files.createTempDirectory("fetchsafe")
    val fetcher: HttpFetchSink.Fetcher = _ => Right(Array[Byte](42))
    val assets = Seq((9L, "http://x/a/..")).toDF("uid", "url")
    val r = HttpFetchSink.fetch(assets, "uid", "url", dest.toString, fetcher)
      .collect().head
    assert(r.getAs[Boolean]("ok") && !r.getAs[Boolean]("skipped"))
    val written = Paths.get(r.getAs[String]("path")).toAbsolutePath.normalize
    assert(written.startsWith(dest.toAbsolutePath.normalize))
    assert(Files.readAllBytes(written).sameElements(Array[Byte](42)))
  }

  test("writeSingle preserves untouched entries' raw JSON (nulls, order, types)") {
    val dir = Files.createTempDirectory("keyedjson")
    val path = dir.resolve("state.json").toString
    // hand-written state: null field, unusual field order, string-typed number
    val priorEntry = """{"z_last": 1, "a_first": null, "num_as_str": "007"}"""
    Files.write(Paths.get(path),
      s"""{"keep": $priorEntry}""".getBytes(StandardCharsets.UTF_8))
    val delta = Seq(("new", "v")).toDF("uid", "field")
    val n = KeyedJsonSink.writeSingle(delta, "uid", path)
    assert(n == 2)
    val out = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    val entries = KeyedJsonSink.topLevelEntries(out).toMap
    assert(entries.keySet == Set("keep", "new"))
    // raw text survives: null field present, order and formatting intact
    assert(KeyedJsonSink.minify(entries("keep")) ==
      """{"z_last":1,"a_first":null,"num_as_str":"007"}""")
  }

  test("writeSingle removeKeys drops stale entries (dead-letter contract)") {
    val dir = Files.createTempDirectory("keyedjson2")
    val path = dir.resolve("wp_failed.json").toString
    Files.write(Paths.get(path),
      """{"11": {"url": "http://x/a"}, "22": {"url": "http://x/b"}}"""
        .getBytes(StandardCharsets.UTF_8))
    val delta = Seq(("33", "http://x/c")).toDF("uid", "url")
    val n = KeyedJsonSink.writeSingle(delta, "uid", path,
      removeKeys = Some(Seq("11", "33").toDF("uid"))) // 11 healed; 33 also healed later
    assert(n == 1)
    val entries = KeyedJsonSink.topLevelEntries(
      new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)).toMap
    assert(entries.keySet == Set("22"))
  }

  test("sharded merge + compaction round-trips ≡ writeSingle on same data") {
    val dir = Files.createTempDirectory("shardrt")
    val shardDir = dir.resolve("state").toString
    val singlePath = dir.resolve("state.json").toString
    val base = (1 to 40).map(i => (s"k$i", s"v$i", i)).toDF("uid", "field", "n")
    // delta: update 5 existing keys, add 3 new; remove 2 (one updated-
    // and-removed, one untouched-and-removed)
    val delta = ((3 to 7).map(i => (s"k$i", s"V$i", i * 100)) ++
      Seq(("x1", "nx1", -1), ("x2", "nx2", -2), ("x3", "nx3", -3)))
      .toDF("uid", "field", "n")
    val rm = Seq("k3", "k20").toDF("uid")

    KeyedJsonSink.mergeSharded(base, "uid", shardDir, shards = 4)
    KeyedJsonSink.mergeSharded(delta, "uid", shardDir, shards = 4,
      removeKeys = Some(rm))

    KeyedJsonSink.writeSingle(base, "uid", singlePath)
    KeyedJsonSink.writeSingle(delta, "uid", singlePath,
      removeKeys = Some(rm))

    val sharded = KeyedJsonSink.readSharded(spark, shardDir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val single = KeyedJsonSink.topLevelEntries(
      new String(Files.readAllBytes(Paths.get(singlePath)), StandardCharsets.UTF_8))
      .map { case (k, v) => k -> KeyedJsonSink.minify(v) }.toMap
    assert(sharded.keySet == single.keySet)
    assert(sharded.keySet.size == 41) // 40 - 2 removed + 3 added
    sharded.keySet.foreach(k => assert(sharded(k) == single(k), s"key $k"))

    // compaction: exactly one line per key across the shard files — the
    // merge rewrote state, not appended a log.
    val lines = spark.read.text(shardDir).count()
    assert(lines == 41)
  }

  test("merge picks the single file under the bound, then stays sharded") {
    import KeyedJsonSink.{Output, Sharded, SingleFile}
    val root = Files.createTempDirectory("keyedmerge")
    val out = Output(root.resolve("state.json").toString,
      root.resolve("sharded").toString)
    def fileKeys(): Set[String] = KeyedJsonSink.topLevelEntries(new String(
      Files.readAllBytes(Paths.get(out.file)), StandardCharsets.UTF_8)).map(_._1).toSet
    def shardKeys(): Set[String] =
      KeyedJsonSink.readSharded(spark, out.dir).collect().map(_.getString(0)).toSet
    def merge(uids: Seq[String], max: Long, rm: Seq[String] = Nil) =
      KeyedJsonSink.merge(uids.map(u => (u, s"v$u")).toDF("uid", "v"), "uid",
        out, uids.size.toLong, max, Some(rm.toDF("uid")))

    assert(merge(Seq("a", "b"), max = 2) == SingleFile(
      Seq("a" -> """{"v":"va"}""", "b" -> """{"v":"vb"}"""), 2))
    // removals reach keys of the prior file and of the delta
    assert(merge(Seq("c", "d"), max = 2, rm = Seq("a", "d", "zz")) ==
      SingleFile(Seq("c" -> """{"v":"vc"}""", "d" -> """{"v":"vd"}"""), 2))
    assert(fileKeys() == Set("b", "c"))
    assert(!Files.exists(Paths.get(out.dir)))

    // past the bound: sharded, the single file absorbed and deleted
    assert(merge(Seq("e", "f", "g"), max = 2, rm = Seq("c")) == Sharded)
    assert(!Files.exists(Paths.get(out.file)))
    assert(shardKeys() == Set("b", "e", "f", "g"))
    // under the bound again, sharded state keeps the merge sharded
    assert(merge(Seq("h"), max = 2) == Sharded)
    assert(shardKeys() == Set("b", "e", "f", "g", "h"))
    // so does a swap parked at .old by a crash, which the merge restores
    Files.move(Paths.get(out.dir), Paths.get(out.dir + ".old"))
    assert(merge(Seq("i"), max = 2) == Sharded)
    assert(!Files.exists(Paths.get(out.file)))
    assert(shardKeys() == Set("b", "e", "f", "g", "h", "i"))
  }

  test("mergeSharded absorbs a legacy writeSingle file once") {
    val dir = Files.createTempDirectory("shardlegacy")
    val shardDir = dir.resolve("state").toString
    val legacy = dir.resolve("legacy.json").toString
    Files.write(Paths.get(legacy),
      """{"old1": {"url": "http://x/a"}, "old2": {"url": "http://x/b"}}"""
        .getBytes(StandardCharsets.UTF_8))
    val delta = Seq(("new1", "http://x/c")).toDF("uid", "url")
    KeyedJsonSink.mergeSharded(delta, "uid", shardDir, shards = 2,
      removeKeys = Some(Seq("old2").toDF("uid")), legacyFile = Some(legacy))
    val got = KeyedJsonSink.readSharded(spark, shardDir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.keySet == Set("old1", "new1"))
    assert(KeyedJsonSink.minify(got("old1")) == """{"url":"http://x/a"}""")
    assert(!Files.exists(Paths.get(legacy))) // absorbed, deleted
  }

  test("mergeSharded self-heals an interrupted swap from the .old backup") {
    val dir = Files.createTempDirectory("shardheal")
    val shardDir = dir.resolve("state").toString
    KeyedJsonSink.mergeSharded(
      Seq(("a", "1"), ("b", "2")).toDF("uid", "x"), "uid", shardDir, shards = 2)
    // simulate a crash that landed between rename(dir -> .old) and
    // rename(tmp -> dir): live dir missing, backup present
    Files.move(Paths.get(shardDir), Paths.get(shardDir + ".old"))
    KeyedJsonSink.mergeSharded(
      Seq(("c", "3")).toDF("uid", "x"), "uid", shardDir, shards = 2)
    val got = KeyedJsonSink.readSharded(spark, shardDir).collect()
      .map(_.getString(0)).toSet
    assert(got == Set("a", "b", "c"),
      s"expected pre-crash state recovered from .old, got $got")
    assert(!Files.exists(Paths.get(shardDir + ".old")))
  }

  /** (`part-*` file count, sidecar shard count) of the shards at `dir`,
    * after checking the layout contract: every uid in `part-i` hashes to
    * shard i under the sidecar's count. */
  private def shardLayout(dir: String): (Int, Int) = {
    val sidecar = new String(Files.readAllBytes(
      Paths.get(dir, KeyedJsonSink.ShardSidecar)), StandardCharsets.UTF_8)
      .trim.toInt
    val s = Files.list(Paths.get(dir))
    val parts = try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    finally s.close()
    parts.foreach { p =>
      val i = p.getFileName.toString.stripPrefix("part-").take(5).toInt
      Files.readAllLines(p).asScala.foreach { line =>
        val uid = line.substring(0, line.indexOf('\t'))
        assert(graft.sources.KeyedJsonSource.shardOf(uid, sidecar) == i,
          s"uid $uid in ${p.getFileName} of $sidecar shards")
      }
    }
    (parts.size, sidecar)
  }

  test("mergeSharded sizes its shard count from the data: shrinks, then grows") {
    val dir = Files.createTempDirectory("shardsize").resolve("state").toString
    // small split sizes so a few tens of KB span several shards; no
    // broadcast, so the removeKeys anti-join below is a shuffled join
    val confs = Map("spark.sql.files.maxPartitionBytes" -> "16k",
      "spark.sql.files.openCostInBytes" -> "1k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val base = (0 until 1000).map(i => (i.toString, s"name-$i", i * 2))
        .toDF("uid", "name", "score")
      KeyedJsonSink.mergeSharded(base, "uid", dir, shards = 8)
      assert(shardLayout(dir) == (8, 8))

      KeyedJsonSink.mergeSharded(Seq(("42", "renamed", -1))
        .toDF("uid", "name", "score"), "uid", dir)
      val (parts, small) = shardLayout(dir)
      assert(small > 1 && small < 8, s"a small merge kept $small shards")
      assert(parts == small)
      // the rewritten sidecar still prunes a point lookup to one file
      val lookup = spark.read.format("graft.sources.KeyedJsonSource")
        .option("path", dir).load().filter($"uid" === "42")
      assert(lookup.rdd.getNumPartitions == 1)
      val rows = lookup.collect()
      assert(rows.length == 1 && rows.head.getString(1).contains("\"renamed\""))

      KeyedJsonSink.mergeSharded((1000 until 11000)
        .map(i => (i.toString, s"name-$i", i)).toDF("uid", "name", "score"),
        "uid", dir, removeKeys = Some(Seq("7").toDF("uid")))
      val (_, grown) = shardLayout(dir)
      assert(grown > small, s"growing the state kept $grown shards")
      assert(KeyedJsonSink.readSharded(spark, dir).count() == 10999)
    } finally confs.keys.foreach(spark.conf.unset)
  }

  test("mergeSharded shuffles once: the aggregate and the write share it") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val root = Files.createTempDirectory("shardonce")
    val dir = root.resolve("state").toString
    // the base write is a merge too: it runs under another name and is
    // moved into place, so its late listener event cannot match below
    KeyedJsonSink.mergeSharded((1 to 100).map(i => (s"k$i", i)).toDF("uid", "n"),
      "uid", root.resolve("base").toString, shards = 4)
    Files.move(root.resolve("base"), root.resolve("state"))
    // the merge writes its new state under `<dir>.tmp-*`
    def mergeWrite(qe: QueryExecution): Boolean = nodes(qe.executedPlan).exists {
      case w: DataWritingCommandExec => w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand =>
          c.outputPath.getName.startsWith("state.tmp-")
        case _ => false
      }
      case _ => false
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (mergeWrite(qe)) seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      KeyedJsonSink.mergeSharded((90 to 120).map(i => (s"k$i", -i))
        .toDF("uid", "n"), "uid", dir)
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(seen.size == 1, "the merge's write was not observed")
    val plan = seen.peek().executedPlan
    assert(nodes(plan).count(_.isInstanceOf[ShuffleExchangeExec]) == 1,
      s"expected one exchange per merge:\n$plan")
    assert(KeyedJsonSink.readSharded(spark, dir).count() == 120)
  }

  test("HttpFetcher honors the 60s-contract against a live local server") {
    // zero-egress sandbox: a loopback HttpServer stands in for the
    // remote host; the production fetcher's contract (2xx body, non-2xx
    // Left, timeout actually cutting a stalled read) runs for real
    import com.sun.net.httpserver.HttpServer
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/ok", ex => {
      val b = "payload-bytes".getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.createContext("/missing", ex => {
      ex.sendResponseHeaders(404, -1); ex.close()
    })
    server.createContext("/stall", ex => {
      Thread.sleep(1500); ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.createContext("/midbody", ex => {
      // headers + first chunk arrive promptly, then the body stalls:
      // HttpRequest.timeout does NOT fire here (it only bounds
      // time-to-headers), so only a whole-exchange deadline cuts this
      ex.sendResponseHeaders(200, 1024 * 1024)
      ex.getResponseBody.write(Array.fill[Byte](16)(42))
      ex.getResponseBody.flush()
      Thread.sleep(5000)
      ex.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val f = new HttpFetchSink.HttpFetcher(timeoutMillis = 400)
      val ok = f(s"$base/ok")
      assert(ok.isRight &&
        new String(ok.toOption.get, "UTF-8") == "payload-bytes")
      assert(f(s"$base/missing") == Left("HTTP 404"))
      val t0 = System.nanoTime()
      val stalled = f(s"$base/stall")
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(stalled.isLeft && stalled.swap.toOption.get.startsWith("timeout"),
        s"expected timeout Left, got $stalled")
      assert(elapsedMs < 1400, s"timeout must cut the wait, took $elapsedMs ms")

      // mid-body stall: headers OK, body never finishes — the deadline
      // must cover the FULL body read, not just time-to-headers
      val t1 = System.nanoTime()
      val midbody = f(s"$base/midbody")
      val midMs = (System.nanoTime() - t1) / 1e6
      assert(midbody.isLeft && midbody.swap.toOption.get.startsWith("timeout"),
        s"expected timeout Left for mid-body stall, got $midbody")
      assert(midMs < 4500,
        s"deadline must cut a stalled body read, took $midMs ms")

      // and end-to-end through the distributed sink (serializability +
      // retry/dead-letter integration with a REAL http client)
      val spark = SparkTestSession.spark
      import spark.implicits._
      val dest = Files.createTempDirectory("httpfetch").toString
      val assets = Seq((1L, s"$base/ok"), (2L, s"$base/missing"))
        .toDF("id", "url")
      val results = HttpFetchSink.fetch(assets, "id", "url", dest,
        new HttpFetchSink.HttpFetcher(timeoutMillis = 400)).cache()
      assert(results.filter("ok").count() == 1)
      assert(HttpFetchSink.deadLetter(results).collect()
        .map(_.getLong(0)).toSeq == Seq(2L))
      assert(Files.readString(Paths.get(dest, "1", "ok")) == "payload-bytes")
      results.unpersist()
    } finally server.stop(0)
  }

  test("JsonLogger rotates at maxBytes and caps total files (winston parity)") {
    val dir = Files.createTempDirectory("jlrot").toString
    // ~90-byte lines, 300-byte cap, keep at most 3 files
    val lg = new graft.sinks.JsonLogger(dir, "export",
      maxBytes = 300, maxFiles = 3)
    (1 to 50).foreach(i => lg.log(f"line $i%03d padding-padding-padding"))
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    // live file keeps its name (tailable layout); history capped at .1/.2
    assert(files.toSet == Set("export.log", "export.1.log", "export.2.log"),
      s"unexpected rotation layout: ${files.mkString(", ")}")
    files.foreach { f =>
      val p = Paths.get(dir, f)
      // every retained file respects the cap and holds only complete
      // JSON lines (rotation never splits a line)
      assert(Files.size(p) <= 300, s"$f exceeds maxBytes")
      Files.readAllLines(p).forEach { l =>
        assert(l.startsWith("{\"level\":\"info\"") && l.endsWith("}"), l)
      }
    }
    // rotation keeps the NEWEST lines: the final message must be live
    val live = Files.readString(Paths.get(dir, "export.log"))
    assert(live.contains("line 050"))
  }

  test("topLevelEntries handles escapes, nesting and empty objects") {
    assert(KeyedJsonSink.topLevelEntries("{}").isEmpty)
    assert(KeyedJsonSink.topLevelEntries("""  { } """).isEmpty)
    val got = KeyedJsonSink.topLevelEntries(
      """{"a\"b": {"x": [1, {"y": "},"}]}, "c": "d,e"}""").toMap
    assert(got.keySet == Set("a\"b", "c"))
    assert(KeyedJsonSink.minify(got("a\"b")) == """{"x":[1,{"y":"},"}]}""")
    assert(got("c") == "\"d,e\"")
  }
}
