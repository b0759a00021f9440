package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CRASH-RECOVERY DRILL for the streaming surface — the operational
  * regime the graceful stop/restart specs (EventStreamSpec) cannot
  * reach: the driver JVM is SIGKILLed MID-MICRO-BATCH by
  * tools/stream_crash_drill.sh and a fresh invocation must resume from
  * the checkpoint with exactly-once output. What this exercises that
  * nothing else in the repo does:
  *
  *  - the offset write-ahead log: a batch whose offsets committed but
  *    whose sink/state epoch didn't is re-executed deterministically;
  *  - state-store recovery: the watermarked daily aggregation reloads
  *    its last committed state version and its watermark;
  *  - the file sink's `_spark_metadata` manifest: parquet parts written
  *    by a killed-in-flight batch sit ORPHANED on disk, invisible to
  *    manifest-aware readers — exactly-once survives partial writes
  *    (the check phase counts the orphans as evidence the crash landed
  *    mid-write).
  *
  * Three phases (one JVM each, so a SIGKILL is a true process death):
  *  - `init <sfDir> <work>`: the events fixture, ts-ordered, split into
  *    jsonl chunk files with corrupt lines injected (every 83rd), plus
  *    a MAXTS marker for the sentinel.
  *  - `serve <sfDir> <work>`: drip-feeds chunks into the landing dir
  *    (atomic rename; skips chunks already landed, so a re-invocation
  *    resumes the FEED as well as the streams) while three checkpointed
  *    queries run: the jsonlIngest good/quarantine split
  *    ([[graft.streaming.EventStream.jsonlIngest]]) and the watermarked
  *    daily aggregation ([[graft.streaming.EventStream.dailyCounts]]).
  *    After the last chunk it lands a far-future sentinel (maxTs + 72h)
  *    to push the watermark past every real window — the spec'd flush
  *    pattern — then processAllAvailable, stop, and a SERVED marker.
  *  - `check <sfDir> <work>`: batch PERMISSIVE re-parse of the landing
  *    dir is the reference; asserts the good sink, quarantine sink and
  *    daily aggregation are row-identical (both-ways except + counts),
  *    prints a canonical corpus hash (fault vs no-fault runs must
  *    agree) and the orphan-file count. Non-zero exit on any mismatch.
  *
  * The feed schema carries ts as epoch millis (`ts_ms`): jsonl has no
  * timestamp type, and an explicit integer column keeps the parse
  * deterministic across engines and timezones (the session is UTC
  * regardless, as everywhere in graft).
  */
object StreamCrashDrill {

  private val feedSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_ms", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private val corruptCol = "_corrupt_line"

  /** Events fixture → ts-ordered jsonl chunks with injected corrupt
    * lines. Deterministic: same fixture → byte-identical chunks.
    */
  private[graft] def init(spark: SparkSession, sfDir: String, work: String,
                   nChunks: Int): Unit = {
    import spark.implicits._
    val ev = graft.ext.EventOps.events(spark, sfDir)
      .select(col("event_id"), (unix_millis(col("ts"))).as("ts_ms"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("ts_ms", "event_id")
      .as[(Long, Long, Long, String, Double)]
      .collect()
    val maxTs = ev.map(_._2).max
    val chunkDir = Paths.get(work, "chunks")
    Files.createDirectories(chunkDir)
    val per = math.max(1, math.ceil(ev.length.toDouble / nChunks).toInt)
    ev.grouped(per).zipWithIndex.foreach { case (rows, i) =>
      val lines = rows.zipWithIndex.map { case ((id, ts, uid, et, v), j) =>
        // every 83rd line is a truncated object: the PERMISSIVE parser
        // must quarantine it without poisoning the rest of the file
        if ((i * per + j) % 83 == 42) s"""{"event_id":$id,"ts_ms":"""
        else
          s"""{"event_id":$id,"ts_ms":$ts,"user_id":$uid,""" +
            s""""event_type":"$et","value":$v}"""
      }
      Files.writeString(chunkDir.resolve(f"chunk_$i%03d.jsonl"),
        lines.mkString("", "\n", "\n"))
    }
    Files.writeString(chunkDir.resolve("MAXTS"), maxTs.toString)
    println(s"[drill] init: ${ev.length} events -> " +
      s"${math.ceil(ev.length.toDouble / per).toInt} chunks, maxTs=$maxTs")
  }

  /** The daily-aggregation stream over the landing dir: parse ok rows,
    * reconstruct ts, aggregate with the production dailyCounts. */
  private def dailyStream(spark: SparkSession, landing: String,
                          outDir: String, ck: String) = {
    val src = spark.readStream
      .schema(feedSchema.add(corruptCol, StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(landing)
      .filter(col(corruptCol).isNull)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    graft.streaming.EventStream.dailyCounts(src).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ck)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .start()
  }

  private[graft] def serve(spark: SparkSession, work: String,
                    feedIntervalMs: Long): Unit = {
    val landing = Paths.get(work, "landing")
    Files.createDirectories(landing)
    val chunkDir = Paths.get(work, "chunks")
    val maxTs = Files.readString(chunkDir.resolve("MAXTS")).trim.toLong

    val (good, bad) = graft.streaming.EventStream.jsonlIngest(
      spark, landing.toString, feedSchema,
      s"$work/good", s"$work/bad", s"$work/ck_good", s"$work/ck_bad")
    val daily = dailyStream(spark, landing.toString, s"$work/daily",
      s"$work/ck_daily")

    // drip-feed: atomic rename into the landing dir; a resumed serve
    // skips chunks that already landed (the crash can also hit the feeder)
    val chunks = Files.list(chunkDir).iterator().asScala[java.nio.file.Path]
      .filter(_.getFileName.toString.startsWith("chunk_"))
      .toSeq.sortBy(_.getFileName.toString)
    var fed = 0
    chunks.foreach { c =>
      val dst = landing.resolve(c.getFileName)
      if (!Files.exists(dst)) {
        val tmp = landing.resolve("." + c.getFileName.toString)
        Files.copy(c, tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        fed += 1
        Thread.sleep(feedIntervalMs)
      }
    }
    // sentinel: one far-future event pushes the watermark past every real
    // window so the append-mode aggregation flushes them all (the
    // EventStreamSpec pattern); its own window stays unemitted and the
    // check phase excludes it from the reference
    val sentinelDst = landing.resolve("zz_sentinel.jsonl")
    if (!Files.exists(sentinelDst)) {
      val sTs = maxTs + 72L * 3600 * 1000
      val tmp = landing.resolve(".zz_sentinel.jsonl")
      Files.writeString(tmp,
        s"""{"event_id":999999999,"ts_ms":$sTs,"user_id":0,""" +
          s""""event_type":"sentinel","value":0.0}\n""")
      Files.move(tmp, sentinelDst, StandardCopyOption.ATOMIC_MOVE)
    }
    println(s"[drill] serve: fed $fed new chunks (+sentinel); draining")
    Seq(good, bad, daily).foreach(_.processAllAvailable())
    Seq(good, bad, daily).foreach(_.stop())
    Files.writeString(Paths.get(work, "SERVED"), "ok\n")
    println("[drill] serve: drained and stopped; SERVED")
  }

  // Files.list gives a raw Java stream; a tiny shim keeps the call site
  // readable without importing scala.jdk.CollectionConverters everywhere
  private implicit class JIterOps(it: java.util.Iterator[_]) {
    def asScala[T]: Iterator[T] =
      new Iterator[T] {
        def hasNext: Boolean = it.hasNext
        def next(): T = it.next().asInstanceOf[T]
      }
  }

  /** Canonical content hash: column-sorted, row-sorted sha256 — the
    * compare_dumps.py convention, so fault and no-fault runs can be
    * compared across processes by their printed hashes. */
  private def corpusHash(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c =>
      coalesce(col(c).cast(StringType), lit("\u0000null")))
    val rows = df.select(concat_ws("", cols: _*).as("r"))
      .orderBy("r")
      .collect().map(_.getString(0))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** diff = both-ways EXCEPT ALL cardinality; 0 iff multiset-equal. */
  private def diffCount(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  private[graft] def check(spark: SparkSession, work: String): Int = {
    val landing = s"$work/landing"
    val ref = spark.read
      .schema(feedSchema.add(corruptCol, StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(landing)
      .cache()
    val refGood = ref.filter(col(corruptCol).isNull).drop(corruptCol)
    val refBad = ref.filter(col(corruptCol).isNotNull)
      .select(col(corruptCol))
    val refDaily = {
      val ok = refGood.filter(col("event_type") =!= "sentinel")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
        .withColumn("v", col("value").cast(DecimalType(18, 2)))
      ok.groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum("v").as("total_value"))
        .select(col("window.start").as("day_start"), col("event_type"),
          col("n_events"), col("total_value"))
    }

    // manifest-aware reads: spark.read.parquet over a streaming file-sink
    // dir consults _spark_metadata, so killed-in-flight parts are invisible
    val good = spark.read.parquet(s"$work/good")
    val bad = spark.read.parquet(s"$work/bad").select(col(corruptCol))
    val daily = spark.read.parquet(s"$work/daily")

    val dGood = diffCount(good, refGood)
    val dBad = diffCount(bad, refBad)
    val dDaily = diffCount(daily, refDaily)

    // exactly-once evidence: parquet parts on disk vs parts the manifest
    // exposes — a crash mid-write leaves orphans that readers never see
    def orphans(dir: String, visible: DataFrame): (Long, Long) = {
      val onDisk = Files.list(Paths.get(dir)).iterator().asScala[java.nio.file.Path]
        .map(_.getFileName.toString)
        .count(n => n.endsWith(".parquet") && !n.startsWith("."))
      val inManifest = visible.select(input_file_name()).distinct().count()
      (onDisk.toLong, inManifest)
    }
    val (gDisk, gMan) = orphans(s"$work/good", good)
    val (dDisk, dMan) = orphans(s"$work/daily", daily)

    println(s"[drill] check: good rows=${good.count()} diff=$dGood; " +
      s"quarantine rows=${bad.count()} diff=$dBad; " +
      s"daily rows=${daily.count()} diff=$dDaily")
    println(s"[drill] orphan evidence: good $gDisk files on disk / " +
      s"$gMan in manifest; daily $dDisk on disk / $dMan in manifest")
    println(s"[drill] hash good=${corpusHash(good)}")
    println(s"[drill] hash bad=${corpusHash(bad)}")
    println(s"[drill] hash daily=${corpusHash(daily)}")
    if (dGood == 0 && dBad == 0 && dDaily == 0) {
      println("[drill] CHECK PASS: all three sinks exactly-once vs batch " +
        "reference")
      0
    } else { println("[drill] CHECK FAIL"); 1 }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: StreamCrashDrill <init|serve|check> <sfDir> <workDir> " +
        "[nChunks|feedIntervalMs]")
    val Array(phase, sfDir, work) = args.take(3)
    val spark = Session(s"graft-stream-crash-$phase")
    // streaming state checkpoints must survive a SIGKILL: keep the
    // default HDFS-backed store but commit every version (no async)
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "20")
    val rc = phase match {
      case "init" =>
        init(spark, sfDir, work,
          args.lift(3).map(_.toInt).getOrElse(32)); 0
      case "serve" =>
        serve(spark, work,
          args.lift(3).map(_.toLong).getOrElse(250L)); 0
      case "check" => check(spark, work)
      case other => sys.error(s"unknown phase: $other")
    }
    spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}
