package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.pipelines.Orchestrator
import graft.sinks.HttpFetchSink
import graft.sources.ParquetCatalog

/** One benchmark run in one JVM.
  *
  * Set-up: JVM launch (the caller passes its launch time), the Spark
  * session, the asset server, and a first export of `site1` into
  * `root/setup`. That first export runs in a cold JVM, as every
  * `ExportMain` invocation does, and is charged to set-up. For the delta
  * workload it is also the prior state the measured exports land on.
  *
  * Measured: exports of `site2` with `Orchestrator.run()`, each into its
  * own directory `root/out<i>` (empty, or a copy of `root/setup` when
  * `delta=1`), until `seconds` have passed and at least `minExports` ran.
  * With `trace=1` the modules run one by one under [[Trace]] spans and the
  * fetcher is wrapped by [[FetchProbe]]; otherwise nothing of the
  * benchmark sits between the exporter and Spark.
  *
  * Usage: ExportRun key=value... with keys site1, plan1, site2, plan2,
  * root, delta, port, seed, maxManifest, seconds, minExports, launchMs,
  * trace. Writes `root/result.json`.
  */
object ExportRun {
  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val root = a("root")
    JvmProbe.install()

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench-export")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = new AssetServer(a("port").toInt, a("seed").toLong)
    def orchestrator(site: String, out: String, fetcher: HttpFetchSink.Fetcher) =
      new Orchestrator(spark, new ParquetCatalog(site), out, fetcher,
        maxDriverManifest = a("maxManifest").toLong)

    server.reset(AssetServer.readPlan(a("plan1")))
    orchestrator(a("site1"), s"$root/setup", HttpFetchSink.defaultFetcher).run()
    val setupS = (System.currentTimeMillis() - a("launchMs").toLong) / 1000.0

    val traced = a("trace") == "1"
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.install())
    val fetcher =
      if (traced) new FetchProbe.Probe(HttpFetchSink.defaultFetcher)
      else HttpFetchSink.defaultFetcher
    val plan2 = AssetServer.readPlan(a("plan2"))
    val exports = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Double]]
    var peakHeapMb = 0.0
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    while (exports.size < a("minExports").toInt || System.nanoTime() < deadline) {
      val out = s"$root/out${exports.size}"
      if (a("delta") == "1") copyTree(Paths.get(s"$root/setup"), Paths.get(out))
      server.reset(plan2)
      trace.foreach(_.reset())
      val orch = orchestrator(a("site2"), out, fetcher)
      val gc0 = JvmProbe.gcSeconds
      val cg0 = CodeGenerator.compileTime
      val cpu0 = JvmProbe.cpuSeconds
      val t0 = System.nanoTime()
      val counts = trace match {
        case None => orch.run()
        case Some(t) => orch.modules.map(m => m -> t.span(m, Some(out))(orch.runModule(m))).toMap
      }
      val exportS = (System.nanoTime() - t0) / 1e9
      val m = mutable.LinkedHashMap[String, Double](
        "export_s" -> exportS, "jvm.cpu_s" -> (JvmProbe.cpuSeconds - cpu0))
      if (exports.isEmpty) peakHeapMb = JvmProbe.mb
      trace.foreach { t =>
        BusDrain.drain(spark.sparkContext)
        val mb = 1048576.0
        t.layers.foreach { case (mod, l) =>
          m(s"pipelines.$mod.s") = (l.endMs - l.startMs) / 1000.0
          m(s"pipelines.$mod.driver_s") = t.driverMs(l) / 1000.0
          m(s"sinks.$mod.write_mb") = l.writeBytes / mb
          m(s"sinks.$mod.files") = l.files.toDouble
          m(s"sources.$mod.read_mb") = l.readBytes / mb
          m(s"spark.$mod.plan_s") = l.planMs / 1000.0
          m(s"spark.$mod.jobs") = l.jobs.toDouble
          m(s"spark.$mod.shuffle_mb") = l.shuffleBytes / mb
          m(s"spark.$mod.collect_mb") = l.resultBytes / mb
        }
        val requests = server.requests.get.toDouble
        val written = server.served.size.toDouble
        m("sinks.fetch.requests") = requests
        m("sinks.fetch.retries") = server.retries.get.toDouble
        m("sinks.fetch.skipped") = counts("assets") - written
        m("sinks.fetch.max_inflight") = server.maxInflight.get.toDouble
        m("sinks.fetch.tasks") = FetchProbe.tasks.size.toDouble
        m("sinks.fetch.useful_ratio") = if (requests > 0) written / requests else 0.0
        m("spark.codegen_s") = (CodeGenerator.compileTime - cg0) / 1e9
        m("jvm.gc_s") = JvmProbe.gcSeconds - gc0
        m("trace.export_s") = exportS
      }
      exports += m
    }
    server.stop()
    spark.stop()

    def obj(kv: Iterable[(String, Double)]) =
      kv.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    val json = s"""{"setup_s": $setupS, "jvm.peak_live_heap_mb": $peakHeapMb, """ +
      s""""exports": ${exports.map(obj).mkString("[", ", ", "]")}}"""
    Files.write(Paths.get(s"$root/result.json"), json.getBytes(StandardCharsets.UTF_8))
  }
}
