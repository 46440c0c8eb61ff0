package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._

/** S7/S8 — keyed-JSON entry sink: a single JSON object keyed by uid, not
  * an array (reference: authordata[login]={...} then JSON.stringify(x,
  * null, 4) — libs/export/authors.js:51-56). Merge semantics are
  * read-modify-write with last-write-wins per key (SURVEY.md §1.4).
  *
  * One merge call, [[merge]], per [[Output]]: an output named once by
  * its single file and its sharded dir. The call picks one of two arms:
  *  - [[writeSingle]]: the reference-compatible single pretty-printed
  *    file. Bounded driver-side materialization — correct for entry
  *    counts that fit one import file (the reference's contract), wrong
  *    for 100 TB. Entries NOT in the delta round-trip as raw JSON text
  *    (no schema inference, no null-field dropping, no cross-entry type
  *    coercion), and the file is replaced with an atomic temp-file move
  *    so a crash mid-write cannot corrupt existing state.
  *  - [[mergeSharded]]: the scale path — entries stay distributed, hashed
  *    into N shard files of JSON-lines (uid TAB json), mergeable by
  *    re-sharding on uid. Compaction = groupBy shard with last-wins. N
  *    follows the bytes being written (see [[sizedShards]]): one shard
  *    per Spark read split, so a few MB land in one file and 100 TB in
  *    ~128 MB shards. The first sharded merge absorbs the single file.
  */
object KeyedJsonSink {

  /** Render rows to (uid, json) pairs; all non-uid columns become the
    * entry object. */
  private def keyed(df: DataFrame, uidCol: String): DataFrame = {
    val valueCols = df.columns.filterNot(_ == uidCol).map(col)
    df.select(col(uidCol).cast("string").as("uid"),
      to_json(struct(valueCols.toIndexedSeq: _*)).as("json"))
  }

  /** Pretty-print a JSON object string with 4-space indent, matching the
    * reference's JSON.stringify(x, null, 4). Minimal, deterministic. */
  private[graft] def pretty(json: String): String = {
    val sb = new StringBuilder
    var depth = 0
    var inStr = false
    var esc = false
    json.foreach { c =>
      if (esc) { sb.append(c); esc = false }
      else c match {
        case '\\' if inStr => sb.append(c); esc = true
        case '"' => sb.append(c); inStr = !inStr
        case '{' | '[' if !inStr =>
          depth += 1; sb.append(c).append('\n').append("    " * depth)
        case '}' | ']' if !inStr =>
          depth -= 1; sb.append('\n').append("    " * depth).append(c)
        case ',' if !inStr => sb.append(c).append('\n').append("    " * depth)
        case ':' if !inStr => sb.append(": ")
        case _ => sb.append(c)
      }
    }
    sb.toString
  }

  /** Strip inter-token whitespace (pretty -> compact) without touching
    * string contents — the inverse of [[pretty]] for re-merging. */
  private[graft] def minify(json: String): String = {
    val sb = new StringBuilder(json.length)
    var inStr = false
    var esc = false
    json.foreach { c =>
      if (inStr) {
        sb.append(c)
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else if (c == '"') { sb.append(c); inStr = true }
      else if (!c.isWhitespace) sb.append(c)
    }
    sb.toString
  }

  private def unescapeKey(raw: String): String = {
    // raw includes the surrounding quotes
    val s = raw.substring(1, raw.length - 1)
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '\\' && i + 1 < s.length) {
        s(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/' => sb.append('/'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'u' if i + 6 <= s.length &&
              s.substring(i + 2, i + 6).forall(h =>
                Character.digit(h, 16) >= 0) =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Top-level (key, rawValueText) pairs of a JSON object — a structural
    * scan, not a schema-inferring parse, so each entry's exact text
    * (null fields, number formatting, field order) survives the
    * round-trip untouched. */
  private[graft] def topLevelEntries(json: String): Seq[(String, String)] = {
    val out = ArrayBuffer.empty[(String, String)]
    val s = json
    var i = 0
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    skipWs()
    if (i >= s.length || s(i) != '{') return out.toSeq
    i += 1
    skipWs()
    if (i < s.length && s(i) == '}') return out.toSeq
    while (i < s.length) {
      skipWs()
      if (i >= s.length || s(i) != '"') return out.toSeq
      val kStart = i
      i += 1
      var esc = false
      while (i < s.length && (esc || s(i) != '"')) {
        esc = !esc && s(i) == '\\'
        i += 1
      }
      i += 1 // closing quote
      val key = unescapeKey(s.substring(kStart, i))
      skipWs()
      if (i >= s.length || s(i) != ':') return out.toSeq
      i += 1
      skipWs()
      val vStart = i
      var depth = 0
      var inStr = false
      esc = false
      var done = false
      while (!done && i < s.length) {
        val c = s(i)
        if (inStr) {
          if (esc) esc = false
          else if (c == '\\') esc = true
          else if (c == '"') inStr = false
        } else c match {
          case '"' => inStr = true
          case '{' | '[' => depth += 1
          case '}' | ']' if depth > 0 => depth -= 1
          case '}' => done = true // outer object closes; don't consume
          case ',' if depth == 0 => done = true
          case _ =>
        }
        if (!done) i += 1
      }
      out += key -> s.substring(vStart, i).trim
      skipWs()
      if (i >= s.length || s(i) != ',') return out.toSeq
      i += 1 // consume ',' and continue with the next key
    }
    out.toSeq
  }

  private def escapeKey(k: String): String =
    "\"" + k.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One keyed-JSON output: the reference's single pretty-printed `file`
    * and the sharded `dir` that takes over from it at scale. */
  final case class Output(file: String, dir: String)

  /** The arm a [[merge]] took. */
  sealed trait Merged
  /** The single file was written: `delta` holds the delta's (uid, json)
    * pairs in collect order, `count` the keys now in the file. */
  final case class SingleFile(delta: Seq[(String, String)], count: Long)
    extends Merged
  /** The state lives in the sharded dir. */
  case object Sharded extends Merged

  /** Merge `delta`, which has `rows` rows, into `out` with last-wins per
    * uid, dropping `removeKeys`. The single file is written while the
    * delta fits the driver (`rows` <= `maxDriverRows`) and no sharded
    * state exists; otherwise the merge is sharded, absorbs the single
    * file, and every later merge stays sharded. Sharded state is looked
    * up through Hadoop FS, where the shards live (an `hdfs://` or
    * `s3a://` dir would read as absent through java.nio). A swap parked
    * at `.old` by a crash is sharded state too: [[mergeSharded]]
    * restores it. */
  def merge(delta: DataFrame, uidCol: String, out: Output, rows: Long,
            maxDriverRows: Long,
            removeKeys: Option[DataFrame] = None): Merged = {
    val fs = new HPath(out.dir).getFileSystem(
      delta.sparkSession.sessionState.newHadoopConf())
    val shardedState =
      Seq(out.dir, out.dir + ".old").exists(d => fs.exists(new HPath(d)))
    if (rows <= maxDriverRows && !shardedState) {
      val (collected, n) = mergeSingle(delta, uidCol, out.file, removeKeys)
      SingleFile(collected, n)
    } else {
      mergeSharded(delta, uidCol, out.dir, removeKeys = removeKeys,
        legacyFile = Some(out.file))
      Sharded
    }
  }

  /** Merge `entries` into the keyed-JSON file at `path` (new rows win;
    * `removeKeys` are dropped — the dead-letter remove-on-success path,
    * reference assets.js:135-137), write pretty-printed atomically,
    * return the merged row count. Driver-side by design — see class
    * doc. Entries absent from the delta keep their raw JSON text. */
  def writeSingle(entries: DataFrame, uidCol: String, path: String,
                  removeKeys: Option[DataFrame] = None): Long =
    mergeSingle(entries, uidCol, path, removeKeys)._2

  /** [[writeSingle]], also returning the delta's (uid, json) pairs in
    * collect order. Only keys in the prior file or the delta can be
    * removed, so only those are collected from `removeKeys`: the driver
    * holds a set bounded by the file even when `removeKeys` spans a
    * whole corpus. */
  private def mergeSingle(entries: DataFrame, uidCol: String, path: String,
                          removeKeys: Option[DataFrame])
      : (Seq[(String, String)], Long) = {
    val collected: Seq[(String, String)] = keyed(entries, uidCol).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    val fresh = collected.toMap.toSeq // dedup: last collected row wins
    val freshKeys = fresh.map(_._1).toSet
    val p = Paths.get(path)
    val existing: Seq[(String, String)] =
      if (Files.exists(p) && Files.size(p) > 2)
        topLevelEntries(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
          .map { case (k, v) => k -> minify(v) }
      else Seq.empty
    val candidates = freshKeys ++ existing.map(_._1)
    val removed: Set[String] = removeKeys match {
      case Some(rm) if candidates.nonEmpty =>
        rm.select(col(rm.columns.head).cast("string").as("uid"))
          .filter(col("uid").isin(candidates.toSeq: _*))
          .collect().map(_.getString(0)).toSet
      case _ => Set.empty
    }
    // last-wins: fresh replaces existing per key; removed keys dropped
    val merged = (existing.filterNot { case (k, _) =>
      freshKeys(k) || removed(k)
    } ++ fresh.filterNot { case (k, _) => removed(k) })
      .sortBy(_._1)
    val body = merged
      .map { case (k, v) => escapeKey(k) + ": " + v }
      .mkString("{", ", ", "}")
    AtomicFile.write(p, pretty(body).getBytes(StandardCharsets.UTF_8))
    (collected, merged.length.toLong)
  }

  /** Shard count when Catalyst cannot size the delta (its estimate is
    * `spark.sql.defaultSizeInBytes`, i.e. unknown). */
  private val UnsizedShards = 64

  /** Shard count for writing `delta` plus `priorBytes` already on disk:
    * ceil(bytes / Spark's read-split size), the split size being
    * `FilePartition.maxSplitBytes` = min(maxPartitionBytes,
    * max(openCostInBytes, bytes / defaultParallelism)). A small write is
    * one shard — one task, one file — instead of a fixed fan-out of
    * near-empty ones; a large one spreads across the cores, and shards
    * never outgrow a read split. The delta's bytes are Catalyst's
    * estimate, which is the measured in-memory size for a cached,
    * materialized frame. */
  private def sizedShards(delta: DataFrame, priorBytes: Long): Int = {
    val spark = delta.sparkSession
    val est = delta.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est >= spark.sessionState.conf.defaultSizeInBytes) UnsizedShards
    else {
      val bytes = (est + priorBytes).min(Long.MaxValue).toLong
      val shardBytes = FilePartition.maxSplitBytes(spark, bytes)
      math.max(1, math.ceil(bytes.toDouble / shardBytes).toInt)
    }
  }

  /** Bytes of the shard files under `dir` (a listing, no read). */
  private def shardBytes(fs: FileSystem, dir: HPath): Long =
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).filter(_.getPath.getName.startsWith("part-"))
      .map(_.getLen).sum

  /** Sidecar file recording the writer's shard count, so readers
    * ([[graft.sources.KeyedJsonSource]]) can prune shards without
    * trusting a caller-supplied `shards` option — a wrong option would
    * otherwise open the wrong files and silently return incomplete
    * results for point lookups. Underscore prefix keeps it invisible to
    * Spark's file listing (and to [[readSharded]]). */
  private[graft] val ShardSidecar = "_graft_shards"

  /** Write `sharded` — (uid, json) rows hash-partitioned on uid into
    * `shards` partitions, so shard file `part-i` holds the uids with
    * pmod(murmur3(uid), shards) = i — and the sidecar. The sidecar is
    * written after the job commits, so it marks a complete write and the
    * committer's `_SUCCESS` marker is left out. */
  private def writeShardFiles(sharded: DataFrame, dir: String,
                              shards: Int): Unit = {
    sharded
      .select(concat_ws("\t", col("uid"), col("json")).as("value"))
      .write.mode(SaveMode.Overwrite)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .text(dir)
    val hPath = new HPath(dir, ShardSidecar)
    val fs = hPath.getFileSystem(
      sharded.sparkSession.sessionState.newHadoopConf())
    val out = fs.create(hPath, true)
    try out.write(shards.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a sharded dir back as (uid, json) rows. `to_json` escapes tabs
    * and newlines inside values, so the FIRST tab of each line is the
    * separator (uids themselves must not contain tabs — they are ids,
    * logins and slugs in every pipeline). */
  def readSharded(spark: org.apache.spark.sql.SparkSession,
                  dir: String): DataFrame =
    spark.read.text(dir).select(
      substring_index(col("value"), "\t", 1).as("uid"),
      expr("substring(value, instr(value, '\t') + 1)").as("json"))

  /** The distributed analog of [[writeSingle]]'s read-modify-write:
    * merge `delta` into the shards at `dir` with last-wins per uid
    * (delta beats existing; within the delta, ties resolve to the
    * lexicographically-greatest rendered json — deterministic, where
    * [[writeSingle]] keeps an arbitrary collected row), drop
    * `removeKeys` (the remove-on-success contract, as an anti-join
    * instead of a driver-side Set), and rewrite compacted shards.
    * `shards` > 0 pins the shard count; the default sizes it from the
    * prior shard files, the legacy file and the delta ([[sizedShards]]),
    * so the count can shrink or grow from merge to merge (the sidecar
    * follows). One shuffle over existing ∪ delta — on (shards, uid),
    * which both the last-wins aggregate and the shard write reuse;
    * nothing materializes on the driver. The swap is write-to-temp +
    * backup-rename — not atomic like [[AtomicFile]]'s file move (no
    * Hadoop FS offers an atomic directory swap), so concurrent readers
    * must tolerate a brief absence; every crash window leaves a
    * recoverable copy (`.old` or `.tmp-*`), never zero. */
  def mergeSharded(delta: DataFrame, uidCol: String, dir: String,
                   shards: Int = 0,
                   removeKeys: Option[DataFrame] = None,
                   legacyFile: Option[String] = None): Unit = {
    val spark = delta.sparkSession
    val hPath = new HPath(dir)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val oldPath = new HPath(dir + ".old")
    // self-heal a crash that landed between the two swap renames below:
    // the previous state is parked at .old — restore it BEFORE reading,
    // or this merge would silently rebuild from the delta alone and the
    // later .old cleanup would destroy the only backup.
    if (!fs.exists(hPath) && fs.exists(oldPath) && !fs.rename(oldPath, hPath))
      throw new java.io.IOException(s"recovering $oldPath -> $dir failed")
    val fresh = keyed(delta, uidCol).withColumn("src", lit(1))
    // a [[writeSingle]]-format file from earlier small-scale runs is
    // absorbed once (its size is bounded by the small-mode contract that
    // wrote it) and deleted after a successful merge, so crossing the
    // scale threshold loses no state.
    val legacyPath = legacyFile.map(Paths.get(_)).filter(Files.exists(_))
    val legacy = legacyPath.toSeq.flatMap { p =>
      topLevelEntries(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
        .map { case (k, v) => (k, minify(v)) }
    }
    val legacyDf =
      if (legacy.isEmpty) None
      else {
        import spark.implicits._
        Some(legacy.toDF("uid", "json").withColumn("src", lit(0)))
      }
    val unioned = (legacyDf.toSeq ++
      (if (fs.exists(hPath))
        Seq(readSharded(spark, dir).withColumn("src", lit(0))) else Nil))
      .foldLeft(fresh)(_ unionByName _)
    val n =
      if (shards > 0) shards
      else sizedShards(delta,
        shardBytes(fs, hPath) + legacyPath.fold(0L)(Files.size(_)))
    val merged = unioned
      // the merge's one exchange: the last-wins aggregate and the
      // anti-join keep this partitioning, so it is the shard layout
      .repartition(n, col("uid"))
      .groupBy(col("uid"))
      .agg(max(struct(col("src"), col("json"))).as("w"))
      .select(col("uid"), col("w.json").as("json"))
    val kept = removeKeys.fold(merged) { rm =>
      merged.join(rm.select(col(rm.columns.head).cast("string").as("uid")),
        Seq("uid"), "left_anti")
    }
    // backup-rename swap: the previous state is parked at .old until the
    // new state is in place, so no crash window loses BOTH copies (a
    // crash can leave .old or a .tmp-* behind — recoverable, never
    // empty). Hadoop FS has no atomic directory swap to do better.
    val tmp = new HPath(
      dir + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    writeShardFiles(kept, tmp.toString, n)
    fs.delete(oldPath, true)
    val hadPrev = fs.exists(hPath)
    if (hadPrev && !fs.rename(hPath, oldPath))
      throw new java.io.IOException(s"rename $dir -> $oldPath failed")
    if (!fs.rename(tmp, hPath))
      throw new java.io.IOException(s"rename $tmp -> $dir failed")
    if (hadPrev) fs.delete(oldPath, true)
    legacyPath.foreach(Files.delete(_))
  }

  /** Master-manifest sink (S8): {"en-us": {uid: ""}} locale map
    * (reference: authors.js:34,52). */
  def writeMasterManifest(entries: DataFrame, uidCol: String, path: String,
                          locale: String = "en-us"): Long = {
    val uids = entries.select(col(uidCol).cast("string").as("uid"))
      .orderBy("uid").collect().map(_.getString(0))
    val inner = uids.map(u => escapeKey(u) + ": \"\"").mkString("{", ", ", "}")
    val out = pretty(s"""{"$locale": $inner}""")
    AtomicFile.write(Paths.get(path), out.getBytes(StandardCharsets.UTF_8))
    uids.length.toLong
  }
}
