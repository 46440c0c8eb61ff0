package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.SparkEntry
import graft.operators._

/** One pass over a sample of the query catalog, one fresh session per query.
  *
  * The sample takes every `stride`-th benched query, then adds the first
  * benched query of any module the stride missed and the three queries
  * whose data-scale growth is under study (q77, q100, q103). The seed
  * permutes the order. Each query runs as `write.format("noop")`, timed.
  * Afterwards, untimed, each result is written as parquet under
  * `root/results/<query>` with the oracle SQL in `root/oracle_sql.json`,
  * for the DuckDB check.
  *
  * Usage: CatalogRun key=value... with keys data, root, seed, stride,
  * launchMs, trace. Writes `root/result.json`.
  */
object CatalogRun {
  val moduleQueries: Seq[(String, Seq[String])] = Seq(
    "RelationalQueries" -> RelationalQueries.qs, "ScalarFnQueries" -> ScalarFnQueries.qs,
    "TextQueries" -> TextQueries.qs, "DedupQueries" -> DedupQueries.qs,
    "CorpusQueries" -> CorpusQueries.qs, "SimilarityQueries" -> SimilarityQueries.qs,
    "MultimodalQueries" -> MultimodalQueries.qs, "ExtensionQueries" -> ExtensionQueries.qs,
    "CleaningQueries" -> CleaningQueries.qs, "AnalyticsQueries" -> AnalyticsQueries.qs,
    "GovernanceQueries" -> GovernanceQueries.qs,
  ).map { case (m, qs) => m -> qs.filter(_.bench).map(_.name) }

  val Watched = Seq("q77_window_dedup", "q100_pipeline_v2", "q103_excerpt_pairs")

  def sample(stride: Int, seed: Long): Seq[String] = {
    val bench = SparkEntry.benchQueries
    val strided = bench.indices.filter(_ % stride == 0).map(bench)
    val extra = moduleQueries.collect {
      case (_, qs) if qs.nonEmpty && !qs.exists(strided.contains) => qs.head
    } ++ Watched
    new scala.util.Random(seed).shuffle((strided ++ extra).distinct)
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val root = a("root")
    val data = a("data")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench-catalog")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val setupS = (System.currentTimeMillis() - a("launchMs").toLong) / 1000.0

    val names = sample(a("stride").toInt, a("seed").toLong)
    val run = SparkEntry.queries
    val trace = if (a("trace") == "1") Some(new Trace(spark)) else None
    trace.foreach(_.install())
    val cg0 = CodeGenerator.compileTime
    val seconds = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.ArrayBuffer.empty[String]
    names.foreach { q =>
      val session = spark.newSession()
      trace.foreach(_.watch(session))
      val t0 = System.nanoTime()
      try {
        trace match {
          case Some(t) => t.span(q, None)(run(q)(session, data).write.format("noop").mode("overwrite").save())
          case None => run(q)(session, data).write.format("noop").mode("overwrite").save()
        }
        seconds(q) = (System.nanoTime() - t0) / 1e9
      } catch {
        case scala.util.control.NonFatal(e) => errors += s"$q: ${e.getMessage}".take(300)
      }
    }
    val codegenS = (CodeGenerator.compileTime - cg0) / 1e9
    trace.foreach(_ => BusDrain.drain(spark.sparkContext))

    val m = mutable.LinkedHashMap[String, Double]()
    trace.foreach { t =>
      val mb = 1048576.0
      val ls = t.layers.toSeq
      def sum(f: t.Layer => Double) = ls.map { case (_, l) => f(l) }.sum
      m("spark.plan_s") = sum(_.planMs / 1000.0)
      m("spark.exec_s") = sum(l => ((l.endMs - l.startMs) - t.driverMs(l)) / 1000.0)
      m("spark.jobs") = sum(_.jobs.toDouble)
      m("spark.tasks") = sum(_.tasks.toDouble)
      m("spark.shuffle_write_mb") = sum(_.shuffleBytes / mb)
      m("spark.shuffle_read_mb") = sum(_.shuffleReadBytes / mb)
      m("spark.spill_mb") = sum(_.spillBytes / mb)
      m("spark.skew_max") = ls.map(_._2.skew).maxOption.getOrElse(1.0)
      m("spark.collect_mb") = sum(_.resultBytes / mb)
      m("spark.codegen_s") = codegenS
      m("sources.read_mb") = sum(_.readBytes / mb)
      val byName = t.layers.toMap
      def group(prefix: String, qs: Seq[String]): Unit = {
        val in = qs.flatMap(byName.get)
        m(s"operators.$prefix.s") = in.map(l => (l.endMs - l.startMs) / 1000.0).sum
        m(s"operators.$prefix.shuffle_mb") = in.map(_.shuffleBytes / mb).sum
      }
      moduleQueries.foreach { case (mod, qs) => group(mod, qs) }
      Watched.foreach(q => group(q, Seq(q)))
    }

    // untimed: results and oracle SQL for the DuckDB check
    val oracle = SparkEntry.oracleSqlFor(spark, data)
    names.filter(seconds.contains).foreach { q =>
      try run(q)(spark.newSession(), data).write.mode("overwrite").parquet(s"$root/results/$q")
      catch { case scala.util.control.NonFatal(e) => errors += s"$q (result): ${e.getMessage}".take(300) }
    }
    spark.stop()

    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    Files.write(Paths.get(s"$root/oracle_sql.json"), obj(
      names.flatMap(q => oracle.get(q).map(q -> str(_)))).getBytes(StandardCharsets.UTF_8))
    val json = obj(Seq(
      "setup_s" -> setupS.toString,
      "queries" -> obj(seconds.map { case (k, v) => k -> v.toString }),
      "modules" -> obj(names.map(q => q -> str(moduleQueries.find(_._2.contains(q)).map(_._1).getOrElse("")))),
      "errors" -> errors.map(str).mkString("[", ", ", "]"),
      "trace" -> obj(m.map { case (k, v) => k -> v.toString })))
    Files.write(Paths.get(s"$root/result.json"), json.getBytes(StandardCharsets.UTF_8))
  }
}
