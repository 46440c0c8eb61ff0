package graft.pipelines

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.{HttpFetchSink, JsonLogger, KeyedJsonSink}
import graft.sinks.KeyedJsonSink.{Output, Sharded, SingleFile}
import graft.sources.{ContentTypeCatalog, IdListSource, WpCatalog}

/** §3 entry-point parity: run all modules, one module, or one module
  * restricted to an ID list (the reference's retry path, app.js:11-23).
  *
  * The reference's implicit ordering dependency — posts reads
  * _featured.json written by assets (posts.js:147 ← assets.js:57) — is an
  * explicit dataset dependency here (Pipelines.posts builds the
  * featured-image frame itself), so module order no longer matters for
  * correctness; `run` keeps the reference order for output parity.
  *
  * When `contentTypesDir` points at a contenttypes config directory
  * (reference: contenttypes/), module order comes from __priority.json
  * and each module's entry columns are conformed to its contenttype's
  * field order; without it the reference order is hardcoded. Every
  * module writes winston-parity JSON-lines progress/error logs (S11)
  * under `outDir`/logs.
  *
  * Each output — a module's entries, the ok assets, the wp_failed
  * dead-letter manifest — goes through one [[KeyedJsonSink.merge]] call,
  * with `maxDriverManifest` as its driver bound: up to that many delta
  * rows go through the reference-contract single file; past it, or once
  * sharded state exists, the output is merged distributed and nothing
  * materializes on the driver at lake scale.
  */
final class Orchestrator(spark: SparkSession, cat: WpCatalog, outDir: String,
                         fetcher: HttpFetchSink.Fetcher,
                         contentTypesDir: Option[String] = None,
                         maxDriverManifest: Long = 10000L) {

  private val contentTypes = contentTypesDir
    .map(d => ContentTypeCatalog.load(spark, d)).getOrElse(Map.empty)

  val modules: Seq[String] = contentTypesDir match {
    case Some(d) => "assets" +: ContentTypeCatalog.priority(d)
    case None => ExportMain.modulesList
  }

  private def conform(df: DataFrame, module: String): DataFrame =
    contentTypes.get(module).fold(df)(ContentTypeCatalog.conform(df, _))

  private def entries(module: String): DataFrame = module match {
    case "authors"    => Pipelines.authors(spark, cat)
    case "categories" => Pipelines.categories(spark, cat)
    case "posts"      => Pipelines.posts(spark, cat)
    case "assets"     => Pipelines.assets(spark, cat)
    case other => throw new IllegalArgumentException(
      s"Please provide valid module name ($other not in $modules)") // app.js:21
  }

  /** Restrict a module's entries to an ID file (entry point 3;
    * broadcast semi-join, not string splicing). */
  private def restrict(df: DataFrame, module: String, idFile: Option[String]): DataFrame =
    idFile.fold(df) { f =>
      val ids = IdListSource.read(spark, f)
      val key = if (module == "authors") col("ID").cast("long")
                else if (module == "categories") col("id").cast("long")
                else col("uid").cast("long")
      df.join(broadcast(ids), key === ids("id"), "left_semi")
    }

  /** Run one module end-to-end: entries → keyed-JSON merge + master
    * manifest (+ asset fetch & dead-letter for assets). Returns the
    * merged entry count. */
  def runModule(module: String, idFile: Option[String] = None): Long = {
    val logger = new JsonLogger(s"$outDir/logs", module)
    val df = restrict(conform(entries(module), module), module, idFile).cache()
    try {
      module match {
        case "assets" =>
          // localCheckpoint (eager) materializes the fetch results ONCE
          // and truncates lineage: the downstream actions (counts,
          // ok-join, succeeded set, dead-letter merge) can never
          // re-execute the side-effecting fetcher — a cache() could, if
          // partitions were evicted, re-hitting every failed URL per
          // action and desyncing the success/failure views.
          val results = HttpFetchSink.fetch(df, "uid", "url",
            s"$outDir/assets", fetcher).localCheckpoint(true)
          try {
            val counts = results
              .agg(count_if(col("ok")), count_if(!col("ok"))).head()
            val (okCount, failed) = (counts.getLong(0), counts.getLong(1))
            val okIds = results.filter(col("ok"))
              .select(col("id").cast("string").as("uid"))
            val assetsOut = Output(s"$outDir/assets/assets.json",
              s"$outDir/assets/sharded")
            val n = KeyedJsonSink.merge(df.join(okIds, "uid", "left_semi"),
                "uid", assetsOut, okCount, maxDriverManifest) match {
              case SingleFile(_, merged) => merged
              case Sharded =>
                KeyedJsonSink.readSharded(spark, assetsOut.dir).count()
            }
            // remove-on-success (reference assets.js:135-137): an id that
            // fetched OK this run — fresh or idempotent-skip — drops out
            // of any stale wp_failed state as the new failures merge in.
            val failedOut = Output(s"$outDir/master/wp_failed.json",
              s"$outDir/master/wp_failed")
            KeyedJsonSink.merge(
                HttpFetchSink.deadLetter(results).withColumn("uid", col("id")),
                "uid", failedOut, failed, maxDriverManifest,
                removeKeys = Some(okIds)) match {
              // one error line per failed asset; the entry's JSON is the
              // reference's {id, url, error} log object
              case SingleFile(rows, _) => rows.foreach { case (_, json) =>
                logger.error("Failed to download asset", json) }
              // at lake scale a per-row log line IS a driver
              // materialization in disguise: log the aggregate count
              case Sharded => if (failed > 0)
                logger.error("Failed to download assets",
                  Map("failed" -> failed, "manifest" -> failedOut.dir))
            }
            logger.log(s"Exported assets", Map("entries" -> n,
              "failed" -> failed))
            n
          } finally { results.unpersist(); () }
        case m =>
          // the count also materializes the cache, so a sharded merge
          // sizes its shards from the measured bytes
          val entriesOut = Output(s"$outDir/entries/$m/en-us.json",
            s"$outDir/entries/$m/sharded")
          val manifest = s"$outDir/master/entries/$m"
          val n = KeyedJsonSink.merge(df, "uid", entriesOut, df.count(),
              maxDriverManifest) match {
            case SingleFile(_, merged) =>
              KeyedJsonSink.writeMasterManifest(df, "uid", s"$manifest.json")
              merged
            case Sharded =>
              // the sharded master manifest derives from the MERGED
              // entry state, so uids written by earlier single-file runs
              // (absorbed by the merge) are never lost across the arm
              // transition; the superseded single master file is
              // removed. (The single-file master stays a current-run
              // snapshot — reference parity; the sharded master tracks
              // the merged entry set, which is what a lake-scale
              // consumer needs.) The merged uids are read once and
              // cached: the count is the merged entry count (one shard
              // line per key after compaction), and it sizes the
              // manifest's shards from the uids alone.
              val mergedUids = KeyedJsonSink.readSharded(spark, entriesOut.dir)
                .select(col("uid")).cache()
              try {
                val merged = mergedUids.count()
                KeyedJsonSink.mergeSharded(
                  mergedUids.select(col("uid"), lit("en-us").as("locale")),
                  "uid", s"$manifest-sharded")
                Files.deleteIfExists(Paths.get(s"$manifest.json"))
                merged
              } finally { mergedUids.unpersist(); () }
          }
          logger.log(s"Exported $m", Map("entries" -> n))
          n
      }
    } finally { df.unpersist(); () }
  }

  /** Entry point 1: all modules in reference order (app.js:9,39). */
  def run(): Map[String, Long] =
    modules.map(m => m -> runModule(m)).toMap
}
