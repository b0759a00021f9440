package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming forms of the event pipelines. The batch queries
  * (graft.ext.EventOps) use the streaming-compatible operators
  * (`window`, `session_window`) precisely so these are the SAME transforms
  * under `readStream`: declare once, run incremental.
  *
  * The fixture `events` table stands in for the stream; in production the
  * source line becomes `spark.readStream.format("kafka"|"parquet"|...)`.
  * Covered here:
  *  - watermarked tumbling-window aggregation (late data dropped after 1h)
  *  - watermarked session windows
  *  - custom per-key state via mapGroupsWithState (running per-user
  *    counters with timeout-based session close), the escape hatch for
  *    semantics the built-in windows can't express.
  */
object EventStream {

  /** Watermarked daily tumbling counts — EventOps.eventsDaily, streaming. */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .withColumn("v", col("value").cast(DecimalType(18, 2)))
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("v").as("total_value"))
      .select(col("window.start").as("day_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Watermarked session windows — EventOps.eventsSessions, streaming. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class UserSession(user_id: Long, n_events: Long, total_value: Double,
                         last_ts: Long, closed: Boolean)

  /** Custom sessionizer: per-user running state via mapGroupsWithState —
    * the pattern for state machines beyond windowed aggregation. A session
    * restarts when the event-time gap is exceeded (the superseded session
    * is implicitly closed). NoTimeout keeps the micro-batch loop quiescent
    * between arrivals; production code closing sessions on wall-clock
    * silence would add EventTimeTimeout plus a watermark — a timeout
    * registration makes the engine schedule batches continuously, which is
    * also why the test harness avoids it.
    *
    * Same memory contract as [[sessionizeClosed]]: the group's per-batch
    * slice is materialized and time-sorted (delivery order is not
    * guaranteed); one user's rows within one micro-batch must fit in
    * executor memory — bound a hot key via the trigger interval.
    */
  def sessionize(events: Dataset[Event],
                 gapMs: Long = 30L * 60 * 1000): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserSession, UserSession](
        GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[UserSession]) =>
          val batch = it.toSeq.sortBy(_.ts.getTime)
          val prev = state.getOption
            .getOrElse(UserSession(uid, 0L, 0.0, Long.MinValue, closed = false))
          val next = batch.foldLeft(prev) { (acc, e) =>
            val sameSession = acc.last_ts == Long.MinValue ||
              e.ts.getTime - acc.last_ts < gapMs
            if (sameSession)
              acc.copy(n_events = acc.n_events + 1,
                total_value = acc.total_value + e.value,
                last_ts = math.max(acc.last_ts, e.ts.getTime))
            else // gap exceeded: restart the session
              UserSession(uid, 1L, e.value, e.ts.getTime, closed = false)
          }
          state.update(next)
          next
      }
  }

  case class ClosedSession(user_id: Long, start_ts: Long, end_ts: Long,
                           n_events: Long, total_value: Double)

  /** Closed-session emitter: the flatMapGroupsWithState flavor of
    * [[sessionize]] — zero-to-many OUTPUT rows per group per batch, which
    * mapGroupsWithState cannot express. State holds only the OPEN session
    * per user (bounded: one row per active user); a batch emits every
    * session it observes closing — including several per user when one
    * batch spans multiple gaps. Append output mode, so closed sessions
    * flow straight into any sink.
    *
    * Same timeout note as [[sessionize]]: event-gap closure only here
    * (NoTimeout); production adds EventTimeTimeout + watermark to also
    * close sessions on wall-clock silence, at the cost of continuous
    * micro-batch scheduling.
    *
    * Memory contract: Spark hands the group iterator in NO guaranteed
    * order, and gap detection needs time order — so each group's
    * PER-BATCH slice is materialized and sorted below. Cross-batch
    * state stays bounded (one open session per user), but one user's
    * rows within one micro-batch must fit in executor memory; a hot key
    * at 100 TB is handled by the trigger interval (smaller batches),
    * not by this operator. Folding the iterator unsorted would drop the
    * materialization but silently mis-close sessions on out-of-order
    * delivery — correctness wins.
    */
  def sessionizeClosed(events: Dataset[Event],
                       gapMs: Long = 30L * 60 * 1000)
      : Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ClosedSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[ClosedSession]) =>
          val batch = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val open = state.getOption
          val (closed, stillOpen) = batch.foldLeft(
            (Vector.empty[ClosedSession], open)) {
            case ((done, cur), e) =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end_ts < gapMs => // extends session
                  // max guard: a LATE event (t < end_ts, possible across
                  // batches) must never rewind the session end — same
                  // invariant as sessionize's last_ts handling
                  (done, Some(s.copy(end_ts = math.max(s.end_ts, t),
                    n_events = s.n_events + 1,
                    total_value = s.total_value + e.value)))
                case Some(s) => // gap: close it, open a new one
                  (done :+ s, Some(ClosedSession(uid, t, t, 1L, e.value)))
                case None =>
                  (done, Some(ClosedSession(uid, t, t, 1L, e.value)))
              }
          }
          stillOpen.foreach(state.update)
          closed.iterator
      }
  }

  /** Streaming exact dedup — the incremental twin of TextOps.dedupExact
    * for a document INGEST stream: the first arrival of each normalized
    * content hash passes, copies are dropped, and state is BOUNDED by the
    * watermark via dropDuplicatesWithinWatermark (a copy arriving later
    * than `delay` after the original can re-emit — the standard
    * bounded-state contract of streaming dedup; unbounded-state
    * dropDuplicates would OOM a 100 TB ingest). Spec'd across watermark
    * expiry in EventStreamSpec.
    */
  def dedupDocs(docs: DataFrame, delay: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_sha",
        sha2(graft.ext.TextOps.normText(col("text")), 256))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("text_sha")

  /** STREAMING JSONL ingest with quarantine — the streaming face of
    * [[graft.io.Sources.jsonl]]'s PERMISSIVE policy: a JSONL landing
    * directory is tailed as a file stream (new files picked up per
    * micro-batch), parsed against the DECLARED schema, and split into
    * two parquet sinks — parsed rows, and the corrupt lines captured
    * whole for quarantine (count them, fix the producer, never lose
    * them). Two independent single-source queries rather than one
    * foreachBatch fan-out: each native parquet sink gets exactly-once
    * through its own checkpoint + `_spark_metadata` manifest, with no
    * idempotent-writer machinery to maintain. Restart-resume and
    * split-equality with the batch reader are spec-asserted.
    */
  def jsonlIngest(spark: SparkSession, inDir: String,
                  schema: org.apache.spark.sql.types.StructType,
                  outDir: String, badDir: String, goodCk: String,
                  badCk: String): (StreamingQuery, StreamingQuery) = {
    val bad = "_corrupt_line"
    def src = spark.readStream
      .schema(schema.add(bad, org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", bad)
      .json(inDir)
    val good = src.filter(col(bad).isNull).drop(bad)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", goodCk)
      .outputMode(OutputMode.Append()).start()
    // the quarantine frame keeps the parsed columns beside the raw line
    // (all-null on corrupt rows, but their presence matters twice: Spark
    // refuses plans referencing ONLY the corrupt column, and a triager
    // wants to see any half-parse the PERMISSIVE reader salvaged)
    val quarantine = src.filter(col(bad).isNotNull)
      .writeStream.format("parquet")
      .option("path", badDir).option("checkpointLocation", badCk)
      .outputMode(OutputMode.Append()).start()
    (good, quarantine)
  }

  /** Watermarked stream-stream INTERVAL join — the streaming counterpart
    * of the batch as-of family (EventOps.asofJoin): every purchase joins
    * the same user's views from the preceding hour. Both sides carry
    * watermarks and the join condition bounds view_ts within
    * [purchase_ts − lookback, purchase_ts], which is exactly what lets
    * the engine EXPIRE buffered state: a view older than the watermark
    * minus the lookback can never match a future purchase and is dropped.
    * Without the time bound a stream-stream join buffers both sides
    * forever — the interval is the 100 TB contract, not a convenience.
    * Inner join in append mode; EventStreamSpec asserts equality with the
    * identical batch join over the fixture.
    */
  def viewsBeforePurchase(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"),
        col("event_id").as("view_event_id"),
        col("ts").as("view_ts"), col("value").as("view_value"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
      .withWatermark("ts", "1 hour")
    purchases.join(views,
      col("user_id") === col("v_user_id") &&
        col("view_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("ts"))
      .select(col("user_id"), col("event_id"), col("view_event_id"),
        col("view_value"))
  }

  /** The durability half of the streaming story: watermarked daily counts
    * into an append-mode parquet FILE sink with a checkpoint. Restarting
    * with the same two paths resumes from the checkpointed offsets/state,
    * and the sink's `_spark_metadata` manifest gives exactly-once batch
    * reads of the output even across crashes mid-write (un-committed files
    * are invisible to readers). Asserted across a stop/restart cycle in
    * EventStreamSpec.
    */
  def dailyCountsToFiles(events: DataFrame, outDir: String,
                         checkpointDir: String): StreamingQuery =
    dailyCounts(events).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming → JDBC through foreachBatch: the standard pattern for
    * sinks without a native streaming writer. Each micro-batch lands
    * tagged with its batch id via the IDEMPOTENT delete-then-append
    * writer: foreachBatch is at-least-once (a replay happens whenever
    * the write committed but the checkpoint epoch didn't), and since the
    * checkpoint keeps batch ids stable across restarts, re-landing the
    * same id first clears its previous rows — the sink converges to
    * exactly-once. Replay-idempotency is spec'd against embedded Derby
    * (same batch written twice → no duplicates).
    */
  def toJdbc(df: DataFrame, url: String, table: String,
             checkpointDir: String): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.io.Jdbc.writeBatchIdempotent(
          batch.withColumn("batch_id", lit(batchId)),
          url, table, "batch_id", batchId)
      }
      .start()

  /** Ingest-time NEAR-dup: a document stream (doc_id, text) probed
    * against the PERSISTED corpus LSH index per micro-batch — closing
    * the gap between [[dedupDocs]] (streaming EXACT dedup, bounded by
    * the watermark) and the batch-only index probe. Each micro-batch
    * runs [[graft.ext.DedupOps.probeLshIndex]] (batch banding + probe
    * joins against the stored band/shingle tables; the corpus is never
    * re-derived) and lands its pairs in a batch-id-keyed partition
    * directory with overwrite mode: foreachBatch is at-least-once, and
    * since checkpointed batch ids are stable across restarts, a replay
    * rewrites the same directory instead of duplicating it — the file-
    * sink counterpart of the idempotent JDBC writer's delete-then-
    * append. Stream ≡ batch pair-set equality across a stop/restart is
    * spec-asserted in EventStreamSpec.
    */
  def lshProbeToParquet(docs: DataFrame, sfDir: String, outDir: String,
                        checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // probe_batch=, not batch_id= — the pair schema's batch_id is
        // the probing DOCUMENT's id; the partition dir must not shadow it
        graft.ext.DedupOps.probeLshIndex(batch.sparkSession, sfDir, batch)
          .write.mode("overwrite")
          .parquet(s"$outDir/probe_batch=$batchId")
      }
      .start()

  /** Ingest-time EXACT-dup ADMISSION: each micro-batch is probed
    * against the persisted SHA ledger chain and then MERGED into it
    * ([[graft.ext.LedgerOps.shaLedgerAdmit]]) — the daily-crawl
    * admission loop as a streaming fold, completing the dedup pair
    * beside [[lshProbeToParquet]] (near-dup) the way the batch ledger
    * completes it beside the LSH index. Verdicts land in batch-id-keyed
    * overwrite partitions (the replay discipline above); the ledger
    * merge itself is store-published, so probe, merge, and sink are each
    * idempotent under foreachBatch's at-least-once replay. `feedTag`
    * must be 1:1 with `checkpointDir` — batch ids only mean anything
    * relative to one checkpoint. Stream ≡ one-shot whole-feed probe
    * and chained ledger ≡ one-merge ledger are spec-asserted across a
    * stop/restart (LedgerOpsSpec).
    */
  def shaAdmitToParquet(docs: DataFrame, sfDir: String, feedTag: String,
                        outDir: String,
                        checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.LedgerOps
          .shaLedgerAdmit(batch.sparkSession, sfDir, feedTag, batch,
            batchId)
          .write.mode("overwrite")
          .parquet(s"$outDir/admit_batch=$batchId")
      }
      .start()

  /** Ingest-time NEAR-dup ADMISSION: each micro-batch is probed
    * against the persisted LSH index chain, admission verdicts land in
    * batch-id-keyed overwrite partitions, and the ADMITTED documents
    * merge forward so the next micro-batch sees them
    * ([[graft.ext.DedupOps.lshAdmit]]) — the near-dup half of the
    * admission pair beside [[shaAdmitToParquet]] (exact), closing the
    * last probe-only asymmetry: [[lshProbeToParquet]] reports against
    * a FROZEN index, this one folds the stream into it. `feedTag` must
    * be 1:1 with `checkpointDir` (batch ids only mean anything
    * relative to one checkpoint); probe, merge and sink are each
    * idempotent under foreachBatch's at-least-once replay
    * (store-published generations, per-batch overwrite partitions).
    * Stream ≡ batch-mode fold and the cross-batch near-dup catch are
    * spec-asserted across a stop/restart (LshAdmitSpec).
    */
  def lshAdmitToParquet(docs: DataFrame, sfDir: String, feedTag: String,
                        outDir: String,
                        checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.DedupOps
          .lshAdmit(batch.sparkSession, sfDir, feedTag, batch, batchId)
          .write.mode("overwrite")
          .parquet(s"$outDir/admit_batch=$batchId")
      }
      .start()

  /** Ingest-time CARDINALITY telemetry: each micro-batch's register
    * sketch merges into the persisted corpus sketch chain
    * ([[graft.ext.SketchOps.hllFold]]) and the running per-lang
    * distinct-gram estimate lands in a batch-id-keyed overwrite
    * partition — the sketch member of the admission-fold family
    * beside [[shaAdmitToParquet]] (exact dedup) and
    * [[lshAdmitToParquet]] (near-dup). State is 256 registers per
    * lang regardless of feed length; probe, merge and sink are each
    * idempotent under foreachBatch's at-least-once replay
    * (store-published generations, per-batch overwrite partitions).
    * `feedTag` must be 1:1 with `checkpointDir`.
    */
  def hllFoldToParquet(docs: DataFrame, sfDir: String, feedTag: String,
                       outDir: String,
                       checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.SketchOps
          .hllFold(batch.sparkSession, sfDir, feedTag, batch, batchId)
          .write.mode("overwrite")
          .parquet(s"$outDir/card_batch=$batchId")
      }
      .start()

  /** Streaming data-contract gate: [[graft.ops.Quality.expectations]]
    * evaluated on EVERY micro-batch via foreachBatch, each report row
    * stamped with the batch id and landed exactly-once (idempotent
    * per-batch overwrite into a `report_batch=<id>` partition — the
    * [[lshProbeToParquet]] replay discipline). The batch pre-flight
    * and the streaming gate share one evaluator, so a contract means
    * the same thing on a feed and on its stream; a monitor reading the
    * report stream alerts on the first failing batch instead of after
    * the nightly run.
    */
  def expectationsToParquet(src: DataFrame,
                            rules: Seq[graft.ops.Quality.Rule],
                            outDir: String,
                            checkpointDir: String,
                            refs: Map[String, DataFrame] = Map.empty)
      : StreamingQuery =
    src.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Quality.expectations(batch, rules, refs)
          .write.mode("overwrite")
          .parquet(s"$outDir/report_batch=$batchId")
      }
      .start()

  /** Streaming CDC against a static reference snapshot: every arriving
    * micro-batch is classified by [[graft.ops.Snapshot.diff]] and the
    * delta report lands exactly-once per batch (idempotent
    * `diff_batch=<id>` overwrite — the [[lshProbeToParquet]] replay
    * discipline). ONLY `added`/`changed` survive: a micro-batch is a
    * slice of the feed, not a full snapshot, so "absent from this
    * batch" carries no removal signal — removal detection is
    * inherently a full-snapshot compare and stays with the batch op.
    * Per-row classification depends only on that row and `prev`, so
    * the union of per-batch reports equals the batch diff of the
    * concatenated feed (spec-asserted), whatever the batch boundaries.
    */
  def diffToParquet(src: DataFrame, prev: DataFrame,
                    keyCols: Seq[String], compared: Seq[String],
                    outDir: String, checkpointDir: String)
      : StreamingQuery =
    src.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Snapshot.diff(batch, prev, keyCols, compared)
          .filter(org.apache.spark.sql.functions.col("change") =!=
            "removed")
          .write.mode("overwrite")
          .parquet(s"$outDir/diff_batch=$batchId")
      }
      .start()

  /** Streaming model scoring: [[graft.ext.ScoringOps.batchScore]]
    * applied DIRECTLY to a document stream. The seam is a stateless
    * narrow mapPartitions, so it composes with Structured Streaming
    * as-is — no foreachBatch detour: within every micro-batch each
    * non-empty partition opens a model handle once, scores bounded
    * batches, and closes via the task-completion listener. Stream ≡
    * batch row equality is asserted in EventStreamSpec.
    */
  def scoreDocs(docs: Dataset[(Long, String)],
                batchSize: Int = graft.ext.ScoringOps.defaultBatchSize)
      : DataFrame = {
    import docs.sparkSession.implicits._
    graft.ext.ScoringOps
      .batchScore(docs, graft.ext.ScoringOps.QualityStub, batchSize)
      .toDF("doc_id", "raw_score", "model_score")
  }

  /** Streaming FLUENCY GATE: the batch-trained reference n-gram LM
    * ([[graft.ext.LmOps]]) applied to a DOCUMENT STREAM — the
    * offline-train / online-score split every production filter runs
    * (the model tables are static frames broadcast into each
    * micro-batch; the threshold is the one the batch tercile run chose,
    * e.g. the tail boundary of [[graft.ext.LmOps.perplexityBuckets]]).
    *
    * Per-document scoring is stateless (LmOps.scoreDocs documents the
    * micro-batch-safety argument), so each batch writes an exactly-once
    * `fluency_batch=<id>` overwrite (the diffToParquet replay
    * discipline) and the union of per-batch outputs equals the one-shot
    * batch scoring of the concatenated feed — spec-asserted, including
    * across a stop/restart.
    */
  def fluencyGate(docs: DataFrame, cAb: DataFrame, cA: DataFrame,
                  voc: DataFrame, threshold: Double, outDir: String,
                  checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.LmOps
          .scoreDocs(graft.ext.LmOps.withToks(batch), cAb, cA, voc)
          // an unknown-lang doc (scored = false) gets an explicit
          // pass = false row — visible in the output, never silently
          // missing (scored && NULL is false, not NULL)
          .withColumn("pass", col("scored") && col("mean_inv") <= threshold)
          .write.mode("overwrite")
          .parquet(s"$outDir/fluency_batch=$batchId")
      }
      .start()

  /** The ONLINE INGEST FUNNEL — the full acceptance pipeline a crawl
    * feed passes through, composed from the library's own stages in
    * their batch forms, run per micro-batch:
    *
    *   1. quality gate (the shared [[graft.ext.TextOps]] score ≥
    *      `qualityMin` — corpusCurate's exact filter);
    *   2. near-dup gate: probe the PERSISTED corpus LSH index and drop
    *      any batch doc with a verified near-dup in the corpus;
    *   3. fluency gate: the batch-trained reference LM
    *      ([[fluencyGate]]'s scoring, same tables) keeps docs with
    *      mean inverse probability ≤ `fluencyMax` (a doc that
    *      tokenizes to nothing cannot be scored and is dropped here).
    *
    * Every stage is stateless per document given its static side
    * inputs (index tables, LM tables) — in particular the LSH probe's
    * mega-bucket cap is censused over the persisted corpus index
    * ALONE ([[graft.ext.DedupOps.probeLshIndexTables]]), so a doc's
    * dup verdict cannot depend on which micro-batch it shares with
    * other feed docs. Hence per-batch ≡ whole-feed:
    * accepted docs and a one-row stats report land exactly-once per
    * batch (`accepted_batch=`/`stats_batch=` overwrites — the replay
    * discipline), and the union across batches equals the one-shot
    * batch funnel over the concatenated feed, restart included
    * (spec-asserted).
    */
  def ingestFunnel(docs: DataFrame, sfDir: String,
                   cAb: DataFrame, cA: DataFrame, voc: DataFrame,
                   qualityMin: Double, fluencyMax: Double,
                   outDir: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (accepted, stats) =
          ingestFunnelBatch(batch, sfDir, cAb, cA, voc,
            qualityMin, fluencyMax)
        try {
          accepted.write.mode("overwrite")
            .parquet(s"$outDir/accepted_batch=$batchId")
          stats.write.mode("overwrite")
            .parquet(s"$outDir/stats_batch=$batchId")
        } finally { accepted.unpersist(false); () }
      }
      .start()

  /** The funnel's batch form — ONE definition serves the stream (above)
    * and the spec's whole-feed reference, so they cannot drift.
    * Returns (accepted docs, one-row stage-drop stats). The accepted
    * frame comes back PERSISTED (its stats were just counted off it);
    * the caller unpersists after consuming.
    */
  /** @param modelGate optional TRAINED-classifier verdicts
    *   (doc_id, pred) — [[graft.ext.ClassifierOps.qualityClassifier]]'s
    *   output shape. When present, stage 1 additionally requires
    *   pred = true (heuristic AND model must both accept — the GPT-3
    *   two-filter recipe). Feed it
    *   [[graft.ext.ClassifierOps.qualityClassifierRef]] verdicts for a
    *   genuinely INDEPENDENT second opinion: that model's labels are
    *   reference-slice membership (the CCNet construction), not a
    *   distillation of the heuristic sitting beside it, so the two
    *   gates encode different signals (spec: the constant-heuristic
    *   synthetic corpus the ref classifier still separates). A STATIC
    *   side input like the LM tables and the LSH index, so the
    *   per-batch ≡ whole-feed invariant is untouched (spec-asserted
    *   with the gate on).
    */
  def ingestFunnelBatch(batch: DataFrame, sfDir: String,
                        cAb: DataFrame, cA: DataFrame, voc: DataFrame,
                        qualityMin: Double, fluencyMax: Double,
                        modelGate: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    import graft.ext.{DedupOps, LmOps, TextOps}
    val scored = TextOps.withQualityScore(
        batch.withColumn("norm", TextOps.normText(col("text"))))
      .select(col("doc_id"), col("lang"), col("text"),
        col("quality_score"))
    val heuristicPassed = scored.filter(col("quality_score") >= qualityMin)
      .select("doc_id", "lang", "text")
    val qPassed = modelGate.fold(heuristicPassed)(g =>
        heuristicPassed.join(
          g.filter(col("pred")).select("doc_id"), Seq("doc_id"),
          "left_semi"))
      .persist()
    val dupIds = DedupOps.probeLshIndex(batch.sparkSession, sfDir,
        qPassed.select("doc_id", "text"))
      .select(col("batch_id").as("doc_id")).distinct()
    val deduped = qPassed.join(dupIds, Seq("doc_id"), "left_anti")
      .persist()
    val lmScored = LmOps
      .scoreDocs(LmOps.withToks(deduped), cAb, cA, voc)
      .persist()
    val fluent = lmScored
      .filter(col("scored") && col("mean_inv") <= fluencyMax)
      .select("doc_id")
    val accepted = deduped
      .join(fluent, Seq("doc_id"), "left_semi")
      .persist()
    // r14 (guide §1.5/§2.6 job-count discipline): ONE deep action
    // materializes the whole persisted chain (qPassed → deduped →
    // lmScored → accepted), then every stage-drop count is a single
    // fused pass over the now-cached tiers instead of five sequential
    // driver actions. Values are unchanged — same frames, same counts.
    val nA = accepted.count()
    // docs whose lang has NO reference model — rejected not because
    // they scored badly but because nothing could score them; surfaced
    // as their own stat so a new-language feed is visible in telemetry
    // instead of dissolving into n_fluency_drop. Counted off `deduped`
    // against the vocabulary table directly (not off lmScored) so even
    // a ZERO-token unknown-lang doc — which produces no lm row at all
    // (a 1-token doc still yields the BOS bigram) — is counted; the
    // oracle mirrors exactly this population (deduped docs whose
    // documents.lang is absent from voc, no tokenizability requirement),
    // so the twins agree for ANY caller-supplied qualityMin, not just
    // thresholds that happen to exclude zero-token docs.
    val unscored = deduped
      .join(broadcast(voc.select("lang")), Seq("lang"), "left_anti")
    val spark = batch.sparkSession
    import spark.implicits._
    val tierCounts = batch.select(lit("in").as("k"))
      .unionByName(qPassed.select(lit("q").as("k")))
      .unionByName(deduped.select(lit("d").as("k")))
      .unionByName(unscored.select(lit("u").as("k")))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val (nIn, nQ, nD, nUnscored) =
      (tierCounts.getOrElse("in", 0L), tierCounts.getOrElse("q", 0L),
        tierCounts.getOrElse("d", 0L), tierCounts.getOrElse("u", 0L))
    // TOKENIZER-AT-ADMISSION: tokens are what the training budget is
    // denominated in, so the funnel reports what it just admitted in
    // token units, not only doc units — accepted docs' words segmented
    // under the FROZEN corpus unigram model (a static side input like
    // the LM tables, so per-batch ≡ whole-feed still holds; the drift
    // gate beside this seam is what catches the model going stale).
    // Two bounded scalar aggregates; the corpus is never touched.
    val uniModel = graft.ext.UnigramOps.trainedPieces(spark, sfDir)
    val accWords = accepted
      .select(explode(graft.ext.CurationOps.toksCol).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
    val pieces = graft.functions.UnigramViterbi(col("w"),
      uniModel.map(e => (e._1, e._3)))
    val tokRow = accWords
      .select(col("f"), size(pieces).cast("long").as("n_p"))
      .agg(coalesce(sum(col("f")), lit(0L)),
        coalesce(sum(col("f") * col("n_p")), lit(0L))).head()
    val (nWords, nTokens) = (tokRow.getLong(0), tokRow.getLong(1))
    val fertility = nTokens.toDouble / math.max(nWords, 1L).toDouble
    val stats = Seq((nIn, nIn - nQ, nQ - nD, nD - nA, nUnscored, nA,
      nWords, nTokens, fertility)).toDF(
      "n_in", "n_quality_drop", "n_dup_drop", "n_fluency_drop",
      "n_unscored", "n_accepted", "n_tok_words", "n_tokens", "fertility")
    qPassed.unpersist(false); deduped.unpersist(false)
    lmScored.unpersist(false)
    (accepted, stats)
  }

  /** The funnel query's fluency cut — in the interior of the fixture
    * score distribution (see q_perplexity_buckets: tail boundary ≈ 39)
    * so the gate exercises both outcomes at every SF.
    */
  val funnelFluencyMax = 40.0

  /** The ORACLE-GATED funnel run (q_ingest_funnel): the whole online
    * acceptance pipeline executed in batch form over the incremental
    * feed slice, reduced to its one-row stage-drop STATS — and
    * hash-compared against a DuckDB twin that composes the quality CTE,
    * the incremental LSH pair chain (batch side restricted to the
    * quality-passed subset; the bucket cap is censused over the corpus
    * index alone, so the restriction cannot change which buckets are
    * kept), and the LM scoring chain. The funnel is thereby
    * end-to-end differential-tested, not just spec-tested.
    */
  def ingestFunnelStats(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ext.{DedupOps, LmOps, TextOps}
    val (cAb, cA, voc) = LmOps.trainTablesShared(spark, sfDir)
    val feed = DedupOps.incrementalBatchDocs(spark, sfDir)
      .join(TextOps.documents(spark, sfDir).select("doc_id", "lang"),
        Seq("doc_id"))
      .select("doc_id", "lang", "text")
    val (accepted, stats) = ingestFunnelBatch(feed, sfDir, cAb, cA, voc,
      TextOps.curateQualityMin, funnelFluencyMax)
    accepted.unpersist(false)
    graft.ops.Canon.canonicalize(stats)
  }

  val ingestFunnelStatsOracle: String = {
    import graft.ext.{DedupOps, LmOps, TextOps}
    val p = DedupOps.incrementalCorpusPermille
    s"""WITH ${TextOps.qualityCte},
       |${DedupOps.incrementalFeedCte},
       |qpass AS MATERIALIZED (
       |  SELECT f.doc_id FROM feed f JOIN qs USING (doc_id)
       |  WHERE quality_score >= ${TextOps.curateQualityMin}),
       |${DedupOps.incrementalOracleBody(p, p,
      batchCond = "doc_id IN (SELECT doc_id FROM qpass)")},
       |dup AS (SELECT DISTINCT batch_id AS doc_id FROM ipairs),
       |dedup AS MATERIALIZED (
       |  SELECT doc_id FROM qpass
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
       |${LmOps.lmScoreCtes},
       |flu AS (
       |  SELECT dd.doc_id FROM dedup dd JOIN scd USING (doc_id)
       |  WHERE mean_inv <= $funnelFluencyMax),
       |unsc AS (
       |  SELECT dd.doc_id FROM dedup dd JOIN documents d USING (doc_id)
       |  WHERE d.lang NOT IN (SELECT lang FROM voc)),
       |${graft.ext.UnigramOps.acceptedTokenCtes("flu")},
       |tokstat AS (
       |  SELECT CAST(coalesce(sum(a.f), 0) AS BIGINT) AS n_tok_words,
       |         CAST(coalesce(sum(a.f * l.n_p), 0) AS BIGINT) AS n_tokens
       |  FROM wt_acc a JOIN wlt l USING (w))
       |SELECT
       |  (SELECT count(*) FROM feed) AS n_in,
       |  (SELECT count(*) FROM feed) - (SELECT count(*) FROM qpass)
       |    AS n_quality_drop,
       |  (SELECT count(*) FROM qpass) - (SELECT count(*) FROM dedup)
       |    AS n_dup_drop,
       |  (SELECT count(*) FROM dedup) - (SELECT count(*) FROM flu)
       |    AS n_fluency_drop,
       |  (SELECT count(*) FROM unsc) AS n_unscored,
       |  (SELECT count(*) FROM flu) AS n_accepted,
       |  n_tok_words, n_tokens,
       |  CAST(n_tokens AS DOUBLE) /
       |    greatest(CAST(n_tok_words AS DOUBLE), 1.0) AS fertility
       |FROM tokstat""".stripMargin
  }

  /** Convenience: file-source stream over the events fixture (a real
    * `readStream`; swap for kafka in production). Applies the same
    * ts normalization as the batch reader ([[graft.ext.EventOps
    * .normalizeTs]]) so the two pipelines see identical schemas
    * whichever physical timestamp form the fixture carries.
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    // file-source streams take a directory; the fixture is one file in the
    // scale-factor dir, selected by glob
    graft.ext.EventOps.normalizeTs(spark.readStream
      .schema(spark.read.parquet(s"$sfDir/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
  }
}
